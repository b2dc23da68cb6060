"""The full pipeline run — the Spark shape of the reference's main.run()
(megalista_dataflow/main.py:53-121 + steps/processing_steps.py:661-673).

Reference DAG: config → group executions by source → 18 parallel
per-destination branches (filter, read, validate, dedup, transform, batch,
upload, control-write) → consolidate summary → exit 1 if any error.

Spark shape:
- the config plane stays on the driver (it is tiny);
- each source is READ ONCE and cached across the branches that share it
  (reference reads per source group; SURVEY §4 "read-once-per-source");
- each branch is lazy DataFrame work run by one sink job inside a
  try/except — a failing branch records an error and the run continues
  (reference safe_process error isolation, uploaders/utils.py:69-88);
- branches run concurrently in lanes, one driver thread per lane
  (``runtime.overlap``), so their Spark jobs share the cluster the way
  the reference's parallel branches do. Branches that write one control
  table share a lane and run in config order, so a later branch's
  anti-join sees the keys an earlier one appended; every other branch
  has a lane of its own. The config bounds the number of lanes. Each
  branch's jobs carry the description ``branch <source> → <destination>``
  and stay in the caller's job group;
- the run summary is a driver-side list of per-branch results in config
  order; exit code 1 if any branch recorded errors (reference
  main.py:106-121).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from megalista_spark.functions.hashing import ads_pii_expressions, dv_pii_expressions
from megalista_spark.models.execution import (
    DestinationType,
    Execution,
    TransactionalType,
    group_executions_by_source,
)
from megalista_spark.runtime import overlap
from megalista_spark.schema.registry import (
    SchemaValidationError,
    aggregate_custom_variables,
    get_schema,
)
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import DryRunTransport, Transport
from megalista_spark.sources.data_source import (
    DataSource,
    anti_join_uploaded,
    get_data_source,
)

# Per-destination-family row transform applied between schema projection
# and upload (reference: hashing mappers + data treatments).
_TRANSFORMS: dict[DestinationType, Callable[[DataFrame], DataFrame]] = {
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_SSD_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_SSI_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_ENHANCED_CONVERSION: ads_pii_expressions,
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: ads_pii_expressions,
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: dv_pii_expressions,
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: dv_pii_expressions,
    DestinationType.CM_OFFLINE_CONVERSION: aggregate_custom_variables,
}


@dataclass
class BranchResult:
    execution: Execution
    rows_read: int = 0
    rows_uploaded: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


@dataclass
class RunResult:
    branches: list[BranchResult]

    @property
    def exit_code(self) -> int:
        """Any error anywhere → 1 (reference main.py:106-121)."""
        return 0 if all(b.ok for b in self.branches) else 1

    def summary(self) -> list[dict[str, Any]]:
        """Distinct per (source, destination) — the reference's LastStep
        CombineGlobally keeps first execution per key (last_step.py:26-56)."""
        seen: dict[tuple[str, str], dict[str, Any]] = {}
        for b in self.branches:
            key = b.execution.key
            if key not in seen:
                seen[key] = {
                    "source": key[0],
                    "destination": key[1],
                    "rows_read": b.rows_read,
                    "rows_uploaded": b.rows_uploaded,
                    "ok": b.ok,
                }
        return list(seen.values())


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        executions: list[Execution],
        transport_factory: Callable[[Execution], Transport] | None = None,
        error_notifier=None,
    ):
        self.spark = spark
        self.executions = executions
        self.transport_factory = transport_factory or (lambda e: DryRunTransport())
        if error_notifier is None:
            from megalista_spark.notifiers import LoggingErrorNotifier

            error_notifier = LoggingErrorNotifier()
        self.error_notifier = error_notifier

    def run(self) -> RunResult:
        results: list[BranchResult | None] = []
        lanes: dict[tuple, list[tuple[int, Execution, DataSource, DataFrame]]] = {}
        shared: list[DataFrame] = []
        for source_name, execs in group_executions_by_source(self.executions).items():
            ds = get_data_source(self.spark, execs[0].source)
            try:
                raw = ds.read_raw()
            except Exception as exc:
                for e in execs:
                    results.append(
                        BranchResult(e, errors=[f"source read failed: {exc}"])
                    )
                continue
            # read-once-per-source: cache only when >1 branch shares the scan
            if len(execs) > 1:
                raw = raw.cache()
                shared.append(raw)
            for e in execs:
                lanes.setdefault(_lane(e, ds, len(results)), []).append(
                    (len(results), e, ds, raw)
                )
                results.append(None)
        sc = self.spark.sparkContext

        def run_lane(lane: list[tuple[int, Execution, DataSource, DataFrame]]) -> None:
            for i, e, ds, raw in lane:
                sc.setJobDescription(f"branch {e.source.name} → {e.destination.name}")
                results[i] = self._run_branch(e, ds, raw)

        try:
            if lanes:
                overlap(*(("pipeline lane", partial(run_lane, lane)) for lane in lanes.values()))
        finally:
            for raw in shared:
                raw.unpersist()
        failed = [b for b in results if not b.ok]
        if failed:
            # end-of-run notification (reference GmailNotifier shape)
            self.error_notifier.notify(failed)
        return RunResult(results)

    def _run_branch(self, execution: Execution, ds, raw: DataFrame) -> BranchResult:
        res = BranchResult(execution)
        dtype = execution.destination.destination_type
        try:
            schema = get_schema(dtype)
            df = schema.apply(raw)
            txn = schema.transactional_type
            if txn != TransactionalType.NOT_TRANSACTIONAL:
                control = ds.control_table(txn)
                df = anti_join_uploaded(df, control.read(), txn)
            transform = _TRANSFORMS.get(dtype)
            if transform is not None:
                df = transform(df)
            outcome = SinkExecutor.for_destination(
                self.transport_factory(execution), dtype
            ).run(df)
            try:
                res.rows_read = sum(outcome.counts.values())
                res.rows_uploaded = outcome.counts["ok"]
                if outcome.counts["error"]:
                    res.errors.extend(r["message"] for r in outcome.errors.collect())
                if txn != TransactionalType.NOT_TRANSACTIONAL and res.rows_uploaded > 0:
                    # U20/D5: persist successfully-uploaded keys
                    control.append(outcome.success.select(*txn.keys))
            finally:
                outcome.release()
        except SchemaValidationError as exc:
            res.errors.append(str(exc))
        except Exception as exc:  # branch isolation (safe_process)
            res.errors.append(f"{type(exc).__name__}: {exc}")
        return res


def _lane(execution: Execution, ds: DataSource, index: int) -> tuple:
    """Branches that write one control table share a lane; every other
    branch gets a lane of its own."""
    txn = get_schema(execution.destination.destination_type).transactional_type
    if txn == TransactionalType.NOT_TRANSACTIONAL:
        return ("branch", index)
    return ("control", ds.control_path())


def run_from_config(
    spark: SparkSession,
    config_path: str,
    transport_factory: Callable[[Execution], Transport] | None = None,
    error_notifier=None,
) -> RunResult:
    """python -m entry point shape: config file → full run."""
    from megalista_spark.sources.config_json import load_executions_from_json

    executions = load_executions_from_json(config_path)
    return Pipeline(spark, executions, transport_factory, error_notifier).run()
