"""Sink executor: chunking, retry, partial failure, error isolation."""

from __future__ import annotations

import copy
import json
import os
import sys

from megalista_spark.models.execution import DestinationType
from megalista_spark.sinks.executor import BATCH_SIZES, SinkExecutor, accepted_flags
from megalista_spark.sinks.transports import DryRunTransport, MockTransport, Transport


class LoggingTransport(MockTransport):
    """MockTransport that appends one JSON line per send attempt
    ``[destination_type, partition_id, chunk_index, attempt, rows]`` to a
    file of its own task under ``log_dir``."""

    def __init__(self, log_dir, **kw):
        super().__init__(**kw)
        self.log_dir = log_dir

    def send(self, payload, context):
        from pyspark import TaskContext

        chunk = context["chunk_index"]
        entry = [context.get("destination_type"), context["partition_id"], chunk,
                 self._attempts.get(chunk, 0) + 1, len(payload)]
        path = os.path.join(self.log_dir, f"task-{TaskContext.get().taskAttemptId()}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(entry) + "\n")
        return super().send(payload, context)


def read_send_log(log_dir):
    """Send attempts per chunk: {(destination, partition, chunk): [(attempt, rows)]}."""
    sends: dict[tuple, list] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                dest, pid, chunk, attempt, rows = json.loads(line)
                sends.setdefault((dest, pid, chunk), []).append((attempt, rows))
    return sends


def test_all_accepted(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    result = SinkExecutor(DryRunTransport(), batch_size=7).run(df)
    assert result.success.count() == 100
    assert result.errors.count() == 0


def test_partial_failure_success_filter(spark):
    # reference J3: only accepted rows flow onward
    df = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    transport = MockTransport(fail_predicate=lambda r: r["k"] % 5 == 0)
    result = SinkExecutor(transport, batch_size=10).run(df)
    ok = sorted(r["k"] for r in result.success.collect())
    assert ok == [i for i in range(50) if i % 5 != 0]


def test_accepted_rows_matched_by_value_not_identity(spark):
    # a Transport that returns equal-but-RECONSTRUCTED dicts (the documented
    # contract only promises "the accepted row dicts") must still mark rows
    # ok, including BinaryType values, which arrive as (unhashable)
    # bytearrays when binaryAsBytes is off
    class RebuildingTransport(Transport):
        def send(self, payload, context):
            return copy.deepcopy([r for r in payload if r["k"] % 5 != 0])

    key = "spark.sql.execution.pyspark.binaryAsBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = spark.createDataFrame([(i, bytearray([i])) for i in range(50)], "k int, b binary")
        result = SinkExecutor(RebuildingTransport(), batch_size=10).run(df)
    finally:
        spark.conf.set(key, prev)
    ok = sorted(r["k"] for r in result.success.collect())
    assert ok == [i for i in range(50) if i % 5 != 0]


ROW = {"k": 1, "s": None, "b": bytearray(b"\x00\xff"), "f": float("nan"),
       "nested": {"tags": ["a", "b"], "m": {"x": 1.5}, "st": {"z": None}}}


def test_accepted_flags_match_by_value():
    a, b = dict(ROW), dict(ROW, k=2)
    # duplicates: each accepted row marks exactly one equal chunk row
    assert accepted_flags([a, dict(a), b], [a]) == [True, False, False]
    assert accepted_flags([a, dict(a), b], [a, a]) == [True, True, False]
    # reconstructed copies (new dicts, lists, bytearrays and NaN objects)
    # match, whatever their key order
    rebuilt = dict(reversed(list(copy.deepcopy(b).items())))
    rebuilt["f"] = float("nan")  # a different NaN object
    assert accepted_flags([a, b], [rebuilt]) == [False, True]
    assert accepted_flags([a, b], copy.deepcopy([b, a])) == [True, True]
    # a value anywhere in the nesting, None vs value, or bytes that differ
    assert accepted_flags([a], [dict(a, nested={**a["nested"], "tags": ["a"]})]) == [False]
    assert accepted_flags([a], [dict(a, s="x")]) == [False]
    assert accepted_flags([a], [dict(a, b=bytearray(b"\x00"))]) == [False]
    assert accepted_flags([a, b], []) == [False, False]
    assert accepted_flags([], []) == []


def test_accepted_flags_scale_linearly():
    def calls(n):
        # Python and builtin calls made while matching: a count of work
        # that does not move with host load, unlike wall time
        chunk = [dict(ROW, k=i, s=f"user{i}@example.com") for i in range(n)]
        accepted = copy.deepcopy(chunk[::2])
        count = 0

        def profile(frame, event, arg):
            nonlocal count
            count += event in ("call", "c_call")

        sys.setprofile(profile)
        try:
            flags = accepted_flags(chunk, accepted)
        finally:
            sys.setprofile(None)
        assert sum(flags) == len(accepted)
        return count

    # 8x the rows: linear work makes ~8x the calls, a per-row scan of the
    # chunk ~64x
    assert calls(20_000) / calls(2_500) < 16


def test_status_counts_and_reads_never_resend(spark, tmp_path):
    log_dir = str(tmp_path)
    df = spark.createDataFrame([(i,) for i in range(50)], ["k"]).repartition(3)
    transport = LoggingTransport(log_dir, fail_predicate=lambda r: r["k"] % 5 == 0)
    result = SinkExecutor(transport, batch_size=10).run(df)
    sends = read_send_log(log_dir)
    assert dict(result.counts) == {"ok": 40, "rejected": 10}
    assert result.success.count() == 40 and result.errors.count() == 0
    assert sorted(r["k"] for r in result.success.collect()) == [
        i for i in range(50) if i % 5 != 0
    ]
    assert read_send_log(log_dir) == sends  # the reads above sent nothing
    assert sum(n for attempts in sends.values() for _, n in attempts) == 50
    result.release()


def test_concurrent_sender_bounds_inflight_and_keeps_rate():
    import threading
    import time as _time

    from megalista_spark.sinks.transports import ConcurrentSendTransport

    class Probe(ConcurrentSendTransport):
        def __init__(self, **kw):
            super().__init__(**kw)
            self._lock = threading.Lock()
            self._inflight = 0
            self.max_inflight = 0
            self.attempts: dict[int, int] = {}

        def send_one(self, row, context):
            with self._lock:
                self._inflight += 1
                self.max_inflight = max(self.max_inflight, self._inflight)
                self.attempts[row["i"]] = self.attempts.get(row["i"], 0) + 1
                n_attempt = self.attempts[row["i"]]
            try:
                _time.sleep(0.005)
                if row["i"] == 7 and n_attempt == 1:
                    raise RuntimeError("transient")  # retried
                return row["i"] != 13  # 13 rejected, never retried
            finally:
                with self._lock:
                    self._inflight -= 1

    t = Probe(max_concurrency=4, events_per_sec=200)
    rows = [{"i": i} for i in range(40)]
    start = _time.monotonic()
    accepted = t.send(rows, {})
    duration = _time.monotonic() - start
    assert sorted(r["i"] for r in accepted) == [i for i in range(40) if i != 13]
    # in-flight stayed within the bound AND real concurrency happened
    assert 1 < t.max_inflight <= 4
    # exceptions retried, plain rejections not
    assert t.attempts[7] == 2 and t.attempts[13] == 1
    # rate floor: 40 events at 200/s can't finish faster than 0.2s
    assert duration >= 40 / 200


def test_retry_then_succeed(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    transport = MockTransport(fail_chunks_until_attempt=2)  # 1st attempt fails
    result = SinkExecutor(transport, batch_size=100, max_parallelism=1).run(df)
    assert result.success.count() == 10
    assert result.errors.count() == 0


def test_exhausted_retries_isolated(spark):
    # a chunk failing all retries becomes error records; run continues
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    transport = MockTransport(fail_chunks_until_attempt=99)
    result = SinkExecutor(
        transport, batch_size=100, max_parallelism=1, max_retries=2,
        context={"destination_type": "TEST"},
    ).run(df)
    assert result.success.count() == 0
    errs = result.errors.collect()
    assert len(errs) == 10
    assert "injected failure" in errs[0]["message"]


def test_batch_sizes_parity():
    # reference processing_steps.py constants
    assert BATCH_SIZES[DestinationType.ADS_OFFLINE_CONVERSION] == 2000
    assert BATCH_SIZES[DestinationType.GA_MEASUREMENT_PROTOCOL] == 20
    assert BATCH_SIZES[DestinationType.CM_OFFLINE_CONVERSION] == 1000
    assert BATCH_SIZES[DestinationType.GA_USER_LIST_UPLOAD] == 5_000_000
    assert BATCH_SIZES[DestinationType.APPSFLYER_S2S_EVENTS] == 1000


def test_concurrent_sender_overlaps_through_executor(spark):
    """End-to-end throughput: a per-row transport with 20ms latency and
    max_concurrency=8 must overlap I/O inside each chunk — 32 rows in one
    partition complete in ~rows/concurrency*latency, not rows*latency
    (the engine's answer to the reference's aiohttp overlap,
    appsflyer_s2s_uploader_async.py:101-139)."""
    import time as _time

    from megalista_spark.sinks.executor import SinkExecutor
    from megalista_spark.sinks.transports import ConcurrentSendTransport

    class SlowSender(ConcurrentSendTransport):
        def send_one(self, row, context):
            _time.sleep(0.02)
            return True

    df = spark.createDataFrame([(i,) for i in range(32)], ["k"]).coalesce(1)
    t = SlowSender(max_concurrency=8)
    result = SinkExecutor(t, batch_size=16).run(df)
    assert result.success.count() == 32
    # the overlap assertion measures the transport directly (Spark job
    # overhead would swamp a wall-clock check through the executor):
    # serial floor is 32*0.02 = 0.64s; overlapped ceil(32/8)*0.02 ≈ 0.08s
    start = _time.monotonic()
    accepted = t.send([{"k": i} for i in range(32)], {})
    direct = _time.monotonic() - start
    assert len(accepted) == 32
    assert direct < 0.32  # < half the 0.64s serial floor
