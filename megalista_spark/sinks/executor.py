"""The generic sink executor — the one genuinely custom physical operator.

Reference behaviors folded in (SURVEY §4 "custom pieces"):
- fixed-size chunking per partition (reference _BatchElements,
  batches_from_executions.py:113-131) with 1-based ``iteration`` —
  deterministic chunk index within a partition
- per-destination batch sizes (processing_steps.py:100-558; BATCH_SIZES)
- retry ≤ 3 with backoff (uploaders/utils.py:27,91-104)
- client-per-partition lifecycle with open/close hooks (the reference's
  per-worker caches + finish_bundle deferred jobs,
  abstract_uploader.py:43-56)
- client-side rate limiting (appsflyer_s2s_uploader_async.py:135-139)
- per-batch error isolation: a failing chunk records an error and the
  partition continues (safe_process, uploaders/utils.py:69-88)
- partial-failure success semantics: the executor RETURNS a DataFrame of
  accepted rows so downstream (control-table append, summary) stays
  relational (J3)

Scale design: one Spark job per run performs the sends. Each partition
streams its rows through the transport and stores every row tagged ok /
rejected / error; only per-status counts are collected. The success rows
and error records read that stored outcome, so they never re-send.
Parallelism is bounded by `repartition(n)` before calling run() (API quota
control), not by loops in the caller.
"""

from __future__ import annotations

import itertools
import time
from collections import Counter
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark import RDD, StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.models.execution import DestinationType
from megalista_spark.sinks.transports import RateLimiter, Transport

MAX_RETRIES = 3  # reference uploaders/utils.py:27

# Per-destination upload batch sizes (reference processing_steps.py +
# third_party/steps.py:31; default batches_from_executions.py:147).
DEFAULT_BATCH_SIZE = 5000
BATCH_SIZES: dict[DestinationType, int] = {
    DestinationType.ADS_OFFLINE_CONVERSION: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_CALLS: 2000,
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: 2000,
    DestinationType.ADS_SSD_UPLOAD: 5000,
    DestinationType.ADS_SSI_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: 5000,
    DestinationType.GA_USER_LIST_UPLOAD: 5_000_000,
    DestinationType.GA_DATA_IMPORT: 1_000_000,
    DestinationType.GA_MEASUREMENT_PROTOCOL: 20,
    DestinationType.GA_4_MEASUREMENT_PROTOCOL: 20,
    DestinationType.CM_OFFLINE_CONVERSION: 1000,
    DestinationType.APPSFLYER_S2S_EVENTS: 1000,
}

RATE_LIMITS: dict[DestinationType, float] = {
    # reference appsflyer_s2s_uploader_async.py:137
    DestinationType.APPSFLYER_S2S_EVENTS: 500.0,
}

_STATUS_COL = "__megalista_status"
_ERROR_COL = "__megalista_error"
_NAN = object()  # NaN != NaN: one key for every NaN so rebuilt rows match


def _freeze(v: Any) -> Any:
    """Hashable value key of anything ``Row.asDict(recursive=True)`` holds:
    nested dicts/lists, ``bytearray`` (BinaryType), NaN."""
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, float) and v != v:
        return _NAN
    return v


def accepted_flags(chunk: list[dict], accepted: list[dict]) -> list[bool]:
    """Which chunk rows the transport accepted, matched by value: each
    accepted row marks one equal chunk row, so a transport may return the
    dicts it was given or rebuilt copies. O(len(chunk) + len(accepted))."""
    remaining = Counter(map(_freeze, accepted))
    flags = []
    for key in map(_freeze, chunk):
        hit = remaining[key] > 0
        remaining[key] -= hit
        flags.append(hit)
    return flags


@dataclass
class SinkResult:
    """Outcome of one sink run: rows per status (ok / rejected / error), and
    ``success``/``errors`` frames that read the outcome the run stored, so
    they never re-send. ``release()`` frees the stored outcome."""

    success: DataFrame
    errors: DataFrame
    counts: Counter
    _stored: RDD

    def release(self) -> None:
        self._stored.unpersist()


class SinkExecutor:
    """Runs a transport over a DataFrame in fixed-size chunks per partition."""

    def __init__(
        self,
        transport: Transport,
        batch_size: int = DEFAULT_BATCH_SIZE,
        max_retries: int = MAX_RETRIES,
        rate_limit_per_sec: float | None = None,
        max_parallelism: int | None = None,
        context: dict[str, Any] | None = None,
    ):
        self.transport = transport
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.rate_limit_per_sec = rate_limit_per_sec
        self.max_parallelism = max_parallelism
        self.context = context or {}

    @classmethod
    def for_destination(
        cls, transport: Transport, destination_type: DestinationType, **kw: Any
    ) -> "SinkExecutor":
        kw.setdefault("batch_size", BATCH_SIZES.get(destination_type, DEFAULT_BATCH_SIZE))
        kw.setdefault("rate_limit_per_sec", RATE_LIMITS.get(destination_type))
        kw.setdefault("context", {"destination_type": destination_type.value})
        return cls(transport, **kw)

    def run(self, df: DataFrame) -> SinkResult:
        """Upload ``df`` in one Spark job. ``success`` has the input schema;
        ``errors`` carry (destination, message). Release the result when done."""
        if self.max_parallelism is not None:
            df = df.repartition(self.max_parallelism)

        # run-level preparation (e.g. GA data-import erase, customer-match
        # REPLACE remove_all) happens exactly once, before any upload
        self.transport.before_run(dict(self.context))

        transport = self.transport
        batch_size = self.batch_size
        max_retries = self.max_retries
        rate = self.rate_limit_per_sec
        base_context = dict(self.context)

        in_cols = df.columns
        out_schema = T.StructType([
            *df.schema.fields,
            T.StructField(_STATUS_COL, T.StringType(), False),
            T.StructField(_ERROR_COL, T.StringType(), True),
        ])

        def process_partition(rows: Iterator[Any]) -> Iterator[tuple]:
            from pyspark import TaskContext

            ctx = dict(base_context, partition_id=TaskContext.get().partitionId())
            transport.open(ctx)
            limiter = RateLimiter(rate)
            try:
                chunks = iter(lambda: list(itertools.islice(rows, batch_size)), [])
                for chunk_index, chunk in enumerate(chunks, start=1):
                    ctx["chunk_index"] = chunk_index
                    ctx["iteration"] = chunk_index  # reference Batch.iteration
                    dict_chunk = [r.asDict(recursive=True) for r in chunk]
                    limiter.acquire(len(dict_chunk))
                    accepted: list[dict] | None = None
                    err: str | None = None
                    for attempt in range(1, max_retries + 1):
                        try:
                            accepted = transport.send(dict_chunk, ctx)
                            break
                        except Exception as exc:  # error isolation: chunk-level
                            err = f"{type(exc).__name__}: {exc}"
                            if attempt < max_retries:
                                time.sleep(min(0.05 * attempt, 1.0))
                    if accepted is None:
                        # whole chunk failed after retries → error records
                        for row in chunk:
                            yield (*row, "error", err)
                        continue
                    for row, ok in zip(chunk, accepted_flags(dict_chunk, accepted)):
                        yield (*row, "ok" if ok else "rejected", None)
            finally:
                transport.close(ctx)

        stored = df.rdd.mapPartitions(process_partition)
        # Stored by the one job below, then cut from its lineage: later reads
        # use the stored rows (or fail if they are lost), never re-send.
        stored.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
        try:
            per_part = stored.mapPartitions(lambda rows: [Counter(r[-2] for r in rows)])
            counts = sum(per_part.collect(), Counter())
        except BaseException:
            stored.unpersist()
            raise
        tagged = stored.toDF(out_schema)
        success = tagged.where(F.col(_STATUS_COL) == "ok").select(*in_cols)
        errors = tagged.where(F.col(_STATUS_COL) == "error").select(
            F.lit(base_context.get("destination_type", "")).alias("destination"),
            F.col(_ERROR_COL).alias("message"),
        )
        return SinkResult(success, errors, counts, stored)
