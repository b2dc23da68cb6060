"""Seeded inputs for the pipeline workloads and what the program must do
with them.

Everything here is pure Python plus pyarrow for the parquet files: the
expected row counts, payload digests and control-table keys are computed
from the generated rows with ``perfbench.reference``, never with Spark.
The program receives only the files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import reference as ref
from perfbench.transport import rejected_by_key

# Rows per input. Each contact file is one scan partition and fills one
# 5,000-row customer-match chunk per branch, so the sink's accepted-row
# matcher, quadratic in the chunk size, works on full chunks as it does in
# production (~4.5 s per chunk on one core of a 4-vCPU VM). One file: a
# second one would run beside it and add no wall time, only one more task
# for a busy host to delay. The conversion sources are kept small enough
# that one invocation stays near a minute and a half on such a VM.
CONTACT_ROWS_PER_FILE = 5_000
CONTACT_FILES = 1
INCREMENTAL_ROWS = 50_000
INCREMENTAL_UPLOADED_SHARE = 0.98
INCREMENTAL_OLD_KEYS = 10_000
FIRST_LOAD_ROWS = 6_000
SOURCE_FILES = 4  # conversions: one scan partition per file on local[4]

ADS_CONTACT = "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"
ADS_MOBILE = "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD"
DV_CONTACT = "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"
ADS_CONVERSION = "ADS_OFFLINE_CONVERSION"

Row = dict


@dataclass
class Branch:
    """One destination of a source, with the outcome the run must reach."""

    destination: str  # DestinationType value
    payload: Callable[[Row], Optional[Row]]
    reject_key: Optional[str] = None
    inject_retries: bool = False
    name: str = ""  # destination name, unique within a run; defaults to the type
    rows_read: int = 0
    rows_uploaded: int = 0
    digest: int = 0

    def __post_init__(self) -> None:
        self.name = self.name or self.destination


@dataclass
class SourceLoad:
    """One source file set, its branches and its control table."""

    name: str
    path: str
    rows: int
    branches: list[Branch]
    control_path: Optional[str] = None
    pristine_control: Optional[str] = None  # copied over control_path before each run
    pristine_rows: int = 0
    appended_keys: set = field(default_factory=set)  # keys the run must append


@dataclass
class PipelineWorkload:
    """The sources one Pipeline.run reads, each read once for its branches."""

    name: str
    sources: list[SourceLoad]

    @property
    def branches(self) -> list[Branch]:
        return [b for src in self.sources for b in src.branches]

    @property
    def rows_read(self) -> int:
        """Source rows read, summed over branches."""
        return sum(src.rows * len(src.branches) for src in self.sources)


def _write_source(path: str, columns: dict[str, list], files: int = SOURCE_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    step = -(-n // files)
    table = pa.table({k: pa.array(v, pa.string()) for k, v in columns.items()})
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def _expect(branch: Branch, rows: list[Row]) -> Branch:
    payloads = [p for p in map(branch.payload, rows) if p is not None]
    branch.rows_read = len(payloads)
    if branch.reject_key is not None:
        payloads = [p for p in payloads if not rejected_by_key(p[branch.reject_key])]
    branch.rows_uploaded = len(payloads)
    branch.digest = ref.payload_digest(payloads)
    return branch


# ---- contacts: one contact list, three customer-match branches ----

_FIRST = ["John", "Maria", "wei", "ANA", "Lukas", "Chloé", "Omar", "Priya", "Kenji", "Zoe"]
_LAST = ["Doe", "Silva", "Zhang", "o'brien", "Müller", "SMITH", "Haddad", "Rao"]
_DOMAINS = ["gmail.com", "GMail.com", "googlemail.com", "example.org", "Corp.example.com"]
_COUNTRIES = ["BR", "US", "de", " FR ", "jp"]


def _maybe_absent(rng: random.Random, value: str, none_p: float, empty_p: float) -> Optional[str]:
    r = rng.random()
    if r < none_p:
        return None
    if r < none_p + empty_p:
        return ""
    return value


def _contact(rng: random.Random, i: int) -> Row:
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    style = rng.random()
    if style < 0.40:  # gmail family: dots in the local part are dropped
        email = f"{first}.{last}.{i}@{rng.choice(_DOMAINS[:3])}"
    elif style < 0.50:  # space-padded; a padded gmail domain keeps its dots
        email = f"  {first}.{last}{i}@{rng.choice(_DOMAINS)}  "
    elif style < 0.55:  # malformed, no '@': hashed as is
        email = f"{first}.{last}{i}"
    elif style < 0.58:  # two '@': the segment after the first decides
        email = f"{first}.{i}@gmail.com@{rng.choice(_DOMAINS)}"
    else:
        email = f"{first}_{last}{i}@{rng.choice(_DOMAINS[3:])}"
    phone = rng.choice([f"+1 (555) 010-{i % 10000:04d}", f" 555.010.{i % 10000:04d} ",
                        f"+44 20 7946 {i % 10000:04d}", f"55-11-9{i:08d}"])
    country = rng.choice(_COUNTRIES)
    zipc = f"{rng.randrange(100000):05d}-{rng.randrange(1000):03d}"
    row = {
        "email": _maybe_absent(rng, email, 0.06, 0.03),
        "phone": _maybe_absent(rng, phone, 0.15, 0.05),
        "mailing_address_first_name": _maybe_absent(rng, f" {first} ", 0.05, 0.03),
        "mailing_address_last_name": _maybe_absent(rng, last, 0.05, 0.0),
        "mailing_address_country": _maybe_absent(rng, country, 0.03, 0.0),
        "mailing_address_zip": _maybe_absent(rng, zipc, 0.03, 0.02),
        "mobile_device_id": _maybe_absent(
            rng, f"{rng.getrandbits(64):016x}-{rng.getrandbits(32):08X}", 0.04, 0.02
        ),
        "crm_segment": rng.choice(["gold", "silver", "bronze"]),
    }
    # the DV schema declares the country and zip under *_name
    row["mailing_address_country_name"] = row["mailing_address_country"]
    row["mailing_address_zip_name"] = row["mailing_address_zip"]
    return row


def contacts(work: str, seed: int) -> SourceLoad:
    """One contact list feeding three customer-match branches."""
    rng = random.Random(seed)
    rows = [_contact(rng, i) for i in range(CONTACT_ROWS_PER_FILE * CONTACT_FILES)]
    path = os.path.join(work, "contacts")
    _write_source(path, {k: [r[k] for r in rows] for k in rows[0]}, CONTACT_FILES)
    branches = [
        _expect(Branch(ADS_CONTACT, ref.ads_contact_payload), rows),
        _expect(Branch(ADS_MOBILE, ref.ads_mobile_payload), rows),
        _expect(Branch(DV_CONTACT, ref.dv_contact_payload), rows),
    ]
    return SourceLoad("contacts", path, len(rows), branches)


# ---- conversions: ADS_OFFLINE_CONVERSION branches over control tables ----

def _conversions(rng: random.Random, n: int) -> list[Row]:
    rows = []
    for i in range(n):
        gclid = f"Cj0K{rng.getrandbits(80):020x}{i:07d}"
        day, sec = rng.randrange(1, 29), rng.randrange(86400)
        rows.append({
            "gclid": gclid,
            "time": f"2026-09-{day:02d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}",
            "amount": f"{rng.randrange(1, 100000) / 100:.2f}",
            "campaign_id": str(rng.randrange(1000)),  # projected away by the schema
        })
    return rows


def _write_control(path: str, keys: list[tuple[str, str]], day: dt.date) -> None:
    part = os.path.join(path, f"dt={day.isoformat()}")
    os.makedirs(part, exist_ok=True)
    stamp = dt.datetime(day.year, day.month, day.day, 12, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({
            "timestamp": pa.array([stamp] * len(keys), pa.timestamp("us", tz="UTC")),
            "gclid": pa.array([k[0] for k in keys], pa.string()),
            "time": pa.array([k[1] for k in keys], pa.string()),
        }),
        os.path.join(part, "part-0.parquet"),
    )


def _conversion_source(work: str, name: str, rows: list[Row], branch: Branch) -> SourceLoad:
    path = os.path.join(work, name)
    _write_source(path, {k: [r[k] for r in rows] for k in rows[0]})
    # the program keeps a file source's control table next to it
    return SourceLoad(name, path, len(rows), [branch], control_path=f"{path}_uploaded")


def conversions_incremental(work: str, seed: int) -> SourceLoad:
    """98% of the keys are already in the control table inside retention.
    Half of the rest sit in a partition older than retention, so they must
    be uploaded again; the other half were never uploaded. The destination
    rejects ~1% of rows by key and fails the first attempt of every 10th
    chunk."""
    rng = random.Random(seed)
    rows = _conversions(rng, INCREMENTAL_ROWS)
    order = list(range(len(rows)))
    rng.shuffle(order)
    n_done = int(len(rows) * INCREMENTAL_UPLOADED_SHARE)
    done = [(rows[i]["gclid"], rows[i]["time"]) for i in order[:n_done]]
    pending = [rows[i] for i in sorted(order[n_done:])]
    expired = [(r["gclid"], r["time"]) for r in pending[::2]]
    foreign = [(f"old{seed}-{i}", "2026-08-01 00:00:00") for i in range(INCREMENTAL_OLD_KEYS)]

    branch = _expect(_destination_branch(ADS_CONVERSION), pending)
    src = _conversion_source(work, "conversions", rows, branch)
    src.pristine_control = os.path.join(work, "control_pristine")
    today = dt.datetime.now(dt.timezone.utc).date()
    recent_days = 7
    for d in range(recent_days):
        _write_control(src.pristine_control, done[d::recent_days], today - dt.timedelta(days=d + 1))
    _write_control(src.pristine_control, expired + foreign[::2], today - dt.timedelta(days=40))
    _write_control(src.pristine_control, foreign[1::2], today - dt.timedelta(days=75))
    src.pristine_rows = len(done) + len(expired) + len(foreign)
    src.appended_keys = _accepted_keys(pending)
    return src


def conversions_first_load(work: str, seed: int) -> SourceLoad:
    """No control table yet: every row is sent, and the table is written
    from nothing. Same destination rules as the incremental source."""
    rng = random.Random(seed + 1)
    rows = _conversions(rng, FIRST_LOAD_ROWS)
    branch = _expect(_destination_branch(f"{ADS_CONVERSION}_FIRST_LOAD"), rows)
    src = _conversion_source(work, "first_load", rows, branch)
    src.appended_keys = _accepted_keys(rows)
    return src


def _destination_branch(name: str) -> Branch:
    return Branch(ADS_CONVERSION, ref.conversion_payload, reject_key="gclid",
                  inject_retries=True, name=name)


def _accepted_keys(rows: list[Row]) -> set:
    return {(r["gclid"], r["time"]) for r in rows if not rejected_by_key(r["gclid"])}


def activation_mix(work: str, seed: int) -> PipelineWorkload:
    """The three sources one config runs together, each read once."""
    return PipelineWorkload("activation_mix", [
        contacts(work, seed),
        conversions_incremental(work, seed),
        conversions_first_load(work, seed),
    ])


def reset_control(src: SourceLoad) -> None:
    """Put the control table back in its pre-run state."""
    if src.control_path is None:
        return
    shutil.rmtree(src.control_path, ignore_errors=True)
    if src.pristine_control is not None:
        shutil.copytree(src.pristine_control, src.control_path)


def control_files(path: str) -> set[str]:
    out = set()
    for root, _, files in os.walk(path):
        out.update(os.path.relpath(os.path.join(root, f), path)
                   for f in files if f.endswith(".parquet"))
    return out


def control_rows(path: Optional[str]) -> int:
    if path is None or not os.path.isdir(path):
        return 0
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in control_files(path))


def appended_control_keys(src: SourceLoad) -> tuple[set, int, int]:
    """(keys, rows, files) the run added to the control table: every file not
    in the pristine copy. The pristine files are checked unchanged by name and
    by the row total, so this plus them is the table's whole key set."""
    before = control_files(src.pristine_control) if src.pristine_control else set()
    new = sorted(control_files(src.control_path) - before) if os.path.isdir(src.control_path) else []
    keys: set = set()
    rows = 0
    for f in new:
        t = pq.read_table(os.path.join(src.control_path, f), columns=["gclid", "time"])
        rows += t.num_rows
        keys.update(zip(t.column("gclid").to_pylist(), t.column("time").to_pylist()))
    return keys, rows, len(new)
