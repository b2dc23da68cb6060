"""End-to-end pipeline runs with mock transports: read-once-per-source,
transactional idempotency, error isolation, exit codes, run summary."""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest

from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
)
from megalista_spark.pipeline import Pipeline, run_from_config
from megalista_spark.sinks.transports import MockTransport, Transport, TransportError
from test_sink_executor import LoggingTransport, read_send_log


def write_config(tmp_path, src_path, connections):
    cfg = {
        "GoogleAdsAccountId": "123",
        "Sources": [
            {"Name": "conv", "Type": "FILE", "FileType": "PARQUET", "Path": src_path}
        ],
        "Destinations": [
            {"Name": "oci", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["act"]},
            {"Name": "cm", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": []},
        ],
        "Connections": connections,
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def conversions(spark):
    rows = [
        (f"g{i}", f"2020-04-09T14:13:{i % 60:02d}.000000", str(float(i)), f"u{i}@x.com", "+55")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, ["gclid", "time", "amount", "email", "phone"])


@pytest.fixture()
def conversions_path(spark, tmp_path):
    path = str(tmp_path / "conversions")
    conversions(spark).write.mode("overwrite").parquet(path)
    return path


def test_e2e_idempotent_run(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    r1 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r1.exit_code == 0
    assert r1.branches[0].rows_read == 20
    assert r1.branches[0].rows_uploaded == 20

    # second run: everything already uploaded → nothing read past dedup
    r2 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r2.exit_code == 0
    assert r2.branches[0].rows_read == 0
    assert r2.branches[0].rows_uploaded == 0


def test_fanout_two_destinations_shared_source(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    r = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r.exit_code == 0
    assert len(r.branches) == 2
    summary = r.summary()
    assert {s["destination"] for s in summary} == {"oci", "cm"}
    # customer-match branch hashed its PII: 20 rows, not deduped
    cm_branch = next(b for b in r.branches if b.execution.destination.name == "cm")
    assert cm_branch.rows_uploaded == 20


class AlwaysFail(Transport):
    def send(self, payload, context):
        raise TransportError("api down")


def test_error_isolation_and_exit_code(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )

    def factory(execution):
        if execution.destination.name == "oci":
            return AlwaysFail()
        return MockTransport()

    r = run_from_config(spark, cfg, factory)
    # the failing branch records errors; the other branch still uploads
    assert r.exit_code == 1
    by_name = {b.execution.destination.name: b for b in r.branches}
    assert not by_name["oci"].ok and by_name["oci"].rows_uploaded == 0
    assert by_name["cm"].ok and by_name["cm"].rows_uploaded == 20
    # failed rows were NOT recorded in the control table → next run retries
    r2 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert by_name_rows(r2, "oci").rows_read == 20


def by_name_rows(result, name):
    return next(b for b in result.branches if b.execution.destination.name == name)


def test_missing_schema_column_fails_branch_only(spark, tmp_path):
    path = str(tmp_path / "bad_src")
    spark.createDataFrame([("g1",)], ["gclid"]).write.parquet(path)  # no time/amount
    cfg = write_config(
        tmp_path, path, [{"Enabled": True, "Source": "conv", "Destination": "oci"}]
    )
    r = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r.exit_code == 1
    assert "missing required" in r.branches[0].errors[0]


def test_error_notifier_called_with_failed_branches(spark, tmp_path, conversions_path):
    from megalista_spark.notifiers import GmailErrorNotifier

    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    sent: list[tuple[str, str]] = []
    notifier = GmailErrorNotifier("ops@example.com", send=lambda to, body: sent.append((to, body)))
    r = run_from_config(spark, cfg, lambda e: AlwaysFail(), error_notifier=notifier)
    assert r.exit_code == 1
    assert len(sent) == 1
    assert sent[0][0] == "ops@example.com"
    assert "oci" in sent[0][1]

    # successful run → no mail
    sent.clear()
    r2 = run_from_config(spark, cfg, lambda e: MockTransport(), error_notifier=notifier)
    assert r2.exit_code == 0 and sent == []


def test_run_sends_each_chunk_once_and_leaves_nothing_persisted(
    spark, tmp_path, conversions_path
):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    log_dir = tmp_path / "sends"
    log_dir.mkdir()
    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keys())
    # every chunk's first attempt fails and is retried by the executor
    r = run_from_config(
        spark, cfg, lambda e: LoggingTransport(str(log_dir), fail_chunks_until_attempt=2)
    )
    assert r.exit_code == 0
    assert [(b.rows_read, b.rows_uploaded) for b in r.branches] == [(20, 20), (20, 20)]
    sends = read_send_log(str(log_dir))
    # counting rows, listing errors and the control append re-sent nothing
    assert sends and all([a for a, _ in s] == [1, 2] for s in sends.values())
    for dest in ("ADS_OFFLINE_CONVERSION", "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"):
        assert sum(n for (d, _, _), s in sends.items() if d == dest for _, n in s[1:]) == 20
    assert set(jsc.getPersistentRDDs().keys()) <= persisted_before
    # the control table got the uploaded keys: a rerun reads nothing new
    r2 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert by_name_rows(r2, "oci").rows_read == 0


def executions_on(path, *destinations):
    """One execution per ``(name, DestinationType)``, all on the parquet
    source ``conv`` at ``path``, in the given (config) order."""
    source = Source("conv", SourceType.FILE, ("PARQUET", path))
    return [Execution(AccountConfig(), source, Destination(n, t)) for n, t in destinations]


def single_file_source(spark, path):
    """The conversions in one file: one scan partition, one sink task."""
    conversions(spark).coalesce(1).write.parquet(path)
    return path


class Rendezvous(Transport):
    """Touches the marker ``me`` under ``marker_dir``, then accepts the chunk
    once the marker ``other`` exists; raises if it has not appeared within
    ``timeout`` seconds."""

    def __init__(self, marker_dir, me, other, timeout=10.0):
        self.marker_dir, self.me, self.other, self.timeout = marker_dir, me, other, timeout

    def send(self, payload, context):
        open(os.path.join(self.marker_dir, self.me), "w").close()
        deadline = time.monotonic() + self.timeout
        while not os.path.exists(os.path.join(self.marker_dir, self.other)):
            if time.monotonic() > deadline:
                raise TransportError(f"{self.me}: {self.other} never sent")
            time.sleep(0.05)
        return payload


def test_branches_of_one_source_run_concurrently(spark, tmp_path):
    # each branch's send waits for the other's: run one after another, the
    # first branch's chunk fails every attempt
    path = single_file_source(spark, str(tmp_path / "src"))
    markers = tmp_path / "markers"
    markers.mkdir()
    cm = DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    execs = executions_on(path, ("a", cm), ("b", cm))
    other = {"a": "b", "b": "a"}
    r = Pipeline(
        spark,
        execs,
        lambda e: Rendezvous(str(markers), e.destination.name, other[e.destination.name]),
    ).run()
    assert [b.execution.destination.name for b in r.branches] == ["a", "b"]
    assert [b.errors for b in r.branches] == [[], []]
    assert [(b.rows_read, b.rows_uploaded) for b in r.branches] == [(20, 20), (20, 20)]


def test_shared_source_is_evaluated_once_across_concurrent_branches(
    spark, tmp_path, monkeypatch
):
    from megalista_spark import pipeline as pipeline_mod
    from megalista_spark.sources.data_source import FileDataSource

    path = str(tmp_path / "src")
    spark.createDataFrame(
        [(f"g{i}", f"u{i}@x.com", "+55") for i in range(60)], ["gclid", "email", "phone"]
    ).repartition(3).write.parquet(path)
    marks = str(tmp_path / "marks")
    os.mkdir(marks)

    class MarkingSource(FileDataSource):
        """Leaves one marker file per evaluation of a scan partition."""

        def read_raw(self):
            def mark(batches):
                open(os.path.join(marks, uuid.uuid4().hex), "w").close()
                yield from batches

            df = super().read_raw()
            return df.mapInArrow(mark, df.schema)

    monkeypatch.setattr(pipeline_mod, "get_data_source", MarkingSource)
    cm = DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    execs = executions_on(path, ("a", cm), ("b", cm), ("c", cm))
    partitions = MarkingSource(spark, execs[0].source).read_raw().rdd.getNumPartitions()
    r = Pipeline(spark, execs, lambda e: MockTransport()).run()
    assert [(b.rows_read, b.rows_uploaded) for b in r.branches] == [(60, 60)] * 3
    assert len(os.listdir(marks)) == partitions


class StampedTransport(MockTransport):
    """MockTransport that leaves one file per send under ``log_dir``, named
    after the destination and holding the send's start time."""

    def __init__(self, log_dir, name, fail_predicate=None):
        super().__init__(fail_predicate=fail_predicate)
        self.log_dir, self.name = log_dir, name

    def send(self, payload, context):
        with open(os.path.join(self.log_dir, f"{self.name}-{uuid.uuid4().hex}"), "w") as f:
            f.write(repr(time.time()))
        return super().send(payload, context)


def send_starts(log_dir, name):
    starts = []
    for fname in os.listdir(log_dir):
        if fname.startswith(f"{name}-"):
            with open(os.path.join(log_dir, fname)) as f:
                starts.append(float(f.read()))
    return starts


def test_branches_sharing_a_control_table_run_in_config_order(spark, tmp_path, monkeypatch):
    from megalista_spark.sources.data_source import ControlTable

    appends: list[tuple[float, float]] = []
    append = ControlTable.append

    def timed_append(self, keys):
        start = time.time()
        append(self, keys)
        appends.append((start, time.time()))

    monkeypatch.setattr(ControlTable, "append", timed_append)
    oci = DestinationType.ADS_OFFLINE_CONVERSION
    for run in range(3):
        appends.clear()
        path = single_file_source(spark, str(tmp_path / f"src{run}"))
        sends = tmp_path / f"sends{run}"
        sends.mkdir()

        def factory(e):
            # "first" rejects the odd gclids; "second" gets exactly those
            odd = lambda r: int(r["gclid"][1:]) % 2 == 1  # noqa: E731
            return StampedTransport(
                str(sends), e.destination.name, odd if e.destination.name == "first" else None
            )

        execs = executions_on(path, ("first", oci), ("second", oci))
        r = Pipeline(spark, execs, factory).run()
        assert [(b.rows_read, b.rows_uploaded) for b in r.branches] == [(20, 10), (10, 10)]
        # the two appends to the one control table never overlap, and the
        # second branch sent nothing before the first branch's append ended
        (_, first_end), (second_start, _) = appends
        assert first_end <= second_start
        assert min(send_starts(str(sends), "second")) >= first_end


def test_run_jobs_stay_in_the_callers_job_group(spark, tmp_path, conversions_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    sc.setJobGroup("pipeline-group-test", "Pipeline.run under a group")
    try:
        r = run_from_config(spark, cfg, lambda e: MockTransport())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.exit_code == 0
    # every job of the run, the lanes' included, is in the caller's group;
    # none escaped it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("pipeline-group-test")) >= 2
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
