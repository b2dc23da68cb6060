"""Pure-Python tests of the benchmark's own arithmetic and references.
No Spark session is started. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from megalista_spark.sinks.transports import TransportError  # noqa: E402

from perfbench import reference as ref  # noqa: E402
from perfbench.stats import (  # noqa: E402
    attempts_per_chunk,
    covered,
    median,
    quartiles,
    self_time,
    union_intervals,
)
from perfbench.transport import (  # noqa: E402
    RecordingTransport,
    fails_first_attempt,
    read_send_log,
    send_summary,
)

# SHA-256 vectors from the reference's hashing tests
JOHN = "96d9632f363564cc3032521409cf22a852f2032eec099ed5967c0d000cec607a"  # "John "
DOE = "799ef92a11af918e3fb741df42934f3b568ed2d93ac1df74f1b8d41a27932a6f"  # "Doe"
PHONE = "a58d4dce9db87c65ebb6137f91edb9bbe7f274f5b0d07eea82f756ea70532b9c"  # "+551199999999"
CAUS_GMAIL = "93d8aed730ac1b81df54d22efa758fc707f9f2763b59769d1f36c9ce9ff160b0"  # "ca.us@gmail.com"
USCA_DOE = "5de5320a299a39f8c370f6940b481ce30a46ac835d11632d99220ab0a0993dbf"  # "us.ca@doe.com"


# ---- median and quartiles ----

def test_median_and_quartiles_match_statistics_quantiles():
    values = [float(v) for v in range(1, 11)]
    assert median(values) == 5.5
    assert quartiles(values) == (2.75, 5.5, 8.25)


def test_quartiles_of_one_and_none():
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        quartiles([])


# ---- self time from overlapping child intervals ----

def test_union_merges_overlaps_and_drops_empty():
    assert union_intervals([(2, 5), (1, 3), (8, 9), (9, 10), (4, 4)]) == [(1, 5), (8, 10)]


def test_self_time_subtracts_union_of_overlapping_children():
    # parallel sends overlap each other and one pokes out of the span
    children = [(1, 3), (2, 5), (8, 12), (-1, 0.5)]
    assert covered(children, 0, 10) == pytest.approx(4 + 2 + 0.5)
    assert self_time(0, 10, children) == pytest.approx(3.5)
    assert self_time(0, 10, []) == 10


# ---- attempts per chunk with one retried chunk ----

def test_attempts_per_chunk_counts_a_retry():
    sends = [
        {"b": "x", "p": 0, "c": 1, "a": 1},
        {"b": "x", "p": 0, "c": 1, "a": 2},
        {"b": "x", "p": 0, "c": 2, "a": 1},
        {"b": "x", "p": 1, "c": 1, "a": 1},
    ]
    assert attempts_per_chunk(sends) == pytest.approx(4 / 3)
    assert attempts_per_chunk([]) == 0.0


def test_retry_rule_fails_chunk_one_of_partition_zero():
    assert fails_first_attempt(0, 1)
    assert fails_first_attempt(0, 11)
    assert fails_first_attempt(1, 10)
    assert not fails_first_attempt(1, 1)
    assert sum(fails_first_attempt(0, c) for c in range(1, 101)) == 10


def test_recording_transport_logs_one_retried_chunk(tmp_path):
    t = RecordingTransport("x", str(tmp_path), reject_key="k", inject_retries=True)
    ctx = {"partition_id": 0}
    t.open(ctx)
    rows = [{"k": str(i)} for i in (1, 2, 55, 3, 178)]  # keys 55 and 178 are rejected
    with pytest.raises(TransportError):
        t.send(rows, {**ctx, "chunk_index": 1})
    accepted = t.send(rows, {**ctx, "chunk_index": 1})
    accepted2 = t.send(rows[:2], {**ctx, "chunk_index": 2})
    t.close(ctx)

    sends = read_send_log(str(tmp_path))
    summary = send_summary(sends)
    assert summary["send_calls"] == 3
    assert summary["retries"] == 1
    assert summary["attempts_per_chunk"] == pytest.approx(1.5)  # 3 sends, 2 chunks
    assert summary["rows_sent"] == 12
    assert [r["k"] for r in accepted] == ["1", "2", "3"]
    assert summary["rows_accepted"] == 5
    assert summary["rows_rejected"] == 2
    logged = ref.combine(int(s["d"]) for s in sends if s["ok"])
    assert logged == ref.payload_digest(accepted + accepted2)


# ---- payload digest of a tiny input with known SHA-256 values ----

def test_reference_hashing_matches_known_vectors():
    assert ref.hash_field("John ") == JOHN
    assert ref.hash_field("Doe") == DOE
    assert ref.hash_field("+551199999999") == PHONE
    assert ref.hash_email("ca.us@gmail.com") == CAUS_GMAIL  # gmail: dots dropped
    assert ref.hash_email("Ca.Us@GMAIL.com") == CAUS_GMAIL
    assert ref.hash_email("us.ca@doe.com") == USCA_DOE  # other domains keep dots
    assert ref.normalize_email("a.b@gmail.com  ") == "a.b@gmail.com  "  # padded domain
    assert ref.normalize_email("A.b@gmail.com@X.com") == "ab@gmail.com@x.com"
    assert ref.normalize_email("No.At") == "No.At"


def test_ads_contact_payload_shapes_golden_row():
    src = {"email": "ca.us@gmail.com", "phone": "+551199999999",
           "mailing_address_first_name": "John ", "mailing_address_last_name": "Doe",
           "mailing_address_country": "BR", "mailing_address_zip": "00000-000"}
    assert ref.ads_contact_payload(src) == {
        "hashed_email": CAUS_GMAIL,
        "hashed_phone_number": PHONE,
        "address_info": {"hashed_first_name": JOHN, "hashed_last_name": DOE,
                         "country_code": "BR", "postal_code": "00000-000"},
    }
    empty = {k: "" for k in src}
    assert ref.ads_contact_payload(empty) is None


def test_payload_digest_of_known_rows():
    # sha256('{"mobile_id":"m1"}') = 04453cbb9521fce82f78d910bef08b3e...
    m1 = int("04453cbb9521fce82f78d910bef08b3e", 16)
    m2 = int("dbccd4939183efd1cdb33f6218b3f9f3", 16)
    rows = [{"mobile_id": "m1"}, {"mobile_id": "m2"}]
    assert ref.row_digest(rows[0]) == m1
    assert ref.payload_digest(rows) == (m1 + m2) % (1 << 128)
    assert ref.payload_digest(rows[::-1]) == ref.payload_digest(rows)
    assert ref.payload_digest(rows + rows[:1]) != ref.payload_digest(rows)


def test_row_digest_ignores_key_order_and_hashes_nested_dicts():
    a = {"x": None, "y": {"b": "2", "a": "1"}}
    b = {"y": {"a": "1", "b": "2"}, "x": None}
    blob = json.dumps(a, sort_keys=True, separators=(",", ":"))
    assert ref.row_digest(a) == ref.row_digest(b)
    assert ref.row_digest(a) == int.from_bytes(hashlib.sha256(blob.encode()).digest()[:16], "big")


# ---- BENCHMARK.json names what run.py prints ----

def test_benchmark_json_matches_the_metrics_run_prints():
    from perfbench import run

    root = os.path.dirname(run.HERE)
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


# ---- the generated inputs fill the program's chunks ----

def test_contact_branches_fill_one_chunk_per_partition(tmp_path):
    from megalista_spark.models.execution import DestinationType
    from megalista_spark.sinks.executor import BATCH_SIZES
    from perfbench import workloads as wl

    mix = wl.activation_mix(str(tmp_path), seed=3)
    contacts = next(src for src in mix.sources if src.name == "contacts")
    for b in contacts.branches:
        per_partition = b.rows_read / wl.CONTACT_FILES
        batch = BATCH_SIZES[DestinationType(b.destination)]
        assert 0.9 * batch <= per_partition <= batch, (b.name, per_partition)
    names = [b.name for b in mix.branches]
    assert len(names) == len(set(names)) == 5
    first_load = next(src for src in mix.sources if src.name == "first_load")
    assert first_load.pristine_control is None and first_load.pristine_rows == 0
