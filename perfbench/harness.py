"""Spark-side pieces of the benchmark: session lifetime, job accounting,
the memory sampler, the span tracer and the isolated per-layer pass.

Every call into the program goes through its public entry points
(``Pipeline``, ``FileDataSource``, ``ControlTable``, ``anti_join_uploaded``,
``DestinationSchema.apply``, the hashing transforms, ``SinkExecutor``); the
tracer wraps them from outside and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Iterator, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from megalista_spark import pipeline as pipeline_mod
from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
    TransactionalType,
)
from megalista_spark.pipeline import Pipeline, RunResult
from megalista_spark.schema.registry import DestinationSchema, get_schema
from megalista_spark.session import get_spark
from megalista_spark.sinks.executor import BATCH_SIZES, DEFAULT_BATCH_SIZE, SinkExecutor
from megalista_spark.sources.data_source import (
    ControlTable,
    FileDataSource,
    anti_join_uploaded,
    get_data_source,
)

from perfbench.reference import combine
from perfbench.stats import self_time
from perfbench.transport import RecordingTransport, fails_first_attempt, read_send_log
from perfbench.workloads import (
    PipelineWorkload,
    SourceLoad,
    appended_control_keys,
    control_files,
    control_rows,
    reset_control,
)

CORES = 4
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- session ----

def start_spark(root: str, work: str) -> SparkSession:
    """local[4] session through the program's own ``get_spark``. The workers get
    the checkout on their path (the recording transport and megalista_spark
    are unpickled there), and every temporary file stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def job_stats(spark: SparkSession, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran a task, and tasks, over the given job groups."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # let the tracker see the last job end
    tracker = sc.statusTracker()
    jobs = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ---- memory ----

def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of ``root_pid`` (the JVM and the
    Python workers it forks), not counting ``root_pid`` itself."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    total, todo = 0, list(children[root_pid])
    while todo:
        pid = todo.pop()
        todo.extend(children[pid])
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far. Time the
    hypervisor gives to other guests shows as stolen; on a shared host it is
    the main source of run-to-run noise."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def host_probe_s(rounds: int = 5) -> float:
    """Median seconds of a fixed single-threaded Python task: how fast the
    host runs right now, so host drift can be told apart from a slower
    program when comparing invocations."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t)
    return sorted(times)[rounds // 2]


class RssSampler(threading.Thread):
    """The benchmark's one extra thread: samples the JVM + worker RSS every
    ``interval`` seconds while a timed run is open."""

    def __init__(self, interval: float = 0.1):
        super().__init__(name="rss-sampler", daemon=True)
        self.interval = interval
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self._active = False
        self._peak = 0

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            with self._lock:
                active = self._active
            if active:
                self._record()

    def _record(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def begin(self) -> None:
        with self._lock:
            self._peak, self._active = 0, True
        self._record()

    def end(self) -> float:
        """Peak MiB since ``begin``."""
        self._record()
        with self._lock:
            self._active = False
            return self._peak / 2**20

    def close(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# ---- tracing ----

class Tracer:
    """Spans ``(id, name, start, end, parent, run_id)`` kept in memory.
    Spans opened with ``action=True`` run under their own job group, so
    their Spark jobs can be counted."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.success_ids: set[int] = set()
        self.error_ids: set[int] = set()

    def call(self, name: str, fn: Callable, *args: Any, action: bool = False, **kw: Any) -> Any:
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if action:
            rec["group"] = f"{self.run_id}/{rec['id']}"
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["start"] = time.monotonic()
        try:
            return fn(*args, **kw)
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if action:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def groups(self) -> list[str]:
        return [s["group"] for s in self.spans if "group" in s]

    @contextlib.contextmanager
    def patched(self) -> Iterator["Tracer"]:
        """Wrap the layer entry points and the actions the pipeline takes."""
        saved: list[tuple[Any, str, Any, bool]] = []
        tracer = self

        def patch(owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
            if isinstance(owner, dict):
                saved.append((owner, attr, owner[attr], True))
                owner[attr] = make(owner[attr])
            else:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig, attr in vars(owner)))
                setattr(owner, attr, make(orig))

        def simple(name: str, action: bool = False) -> Callable[[Callable], Callable]:
            return lambda orig: (lambda *a, **k: tracer.call(name, orig, *a, action=action, **k))

        def sink_run(orig: Callable) -> Callable:
            def run(self_: SinkExecutor, df: DataFrame):
                out = tracer.call("executor.run", orig, self_, df)
                tracer.success_ids.add(id(out.success))
                tracer.error_ids.add(id(out.errors))
                return out
            return run

        def count(orig: Callable) -> Callable:
            def run(df: DataFrame) -> int:
                name = ("pipeline.upload_action" if id(df) in tracer.success_ids
                        else "pipeline.rows_read_action")
                return tracer.call(name, orig, df, action=True)
            return run

        def collect(orig: Callable) -> Callable:
            def run(df: DataFrame):
                name = ("pipeline.errors_action" if id(df) in tracer.error_ids
                        else "pipeline.collect_action")
                return tracer.call(name, orig, df, action=True)
            return run

        patch(Pipeline, "run", simple("pipeline.run"))
        patch(Pipeline, "_run_branch", simple("pipeline.branch"))
        patch(FileDataSource, "read_raw", simple("data_source.read_raw"))
        patch(ControlTable, "read", simple("data_source.control_read"))
        patch(ControlTable, "append", simple("pipeline.control_append_action", action=True))
        patch(pipeline_mod, "anti_join_uploaded", simple("data_source.anti_join"))
        patch(DestinationSchema, "apply", simple("registry.apply"))
        for dtype in list(pipeline_mod._TRANSFORMS):
            patch(pipeline_mod._TRANSFORMS, dtype, simple("hashing.transform"))
        patch(SinkExecutor, "run", sink_run)
        frame_cls = type(self.spark.range(0))  # the concrete DataFrame class
        patch(frame_cls, "count", count)
        patch(frame_cls, "collect", collect)
        try:
            yield self
        finally:
            for owner, attr, orig, own in reversed(saved):
                if isinstance(owner, dict):
                    owner[attr] = orig
                elif own:
                    setattr(owner, attr, orig)
                else:  # was inherited: drop the shadowing wrapper
                    delattr(owner, attr)


def uncovered_s(spans: list[dict]) -> float:
    """Part of the root span that no layer call or action span covers."""
    root = next(s for s in spans if s["parent"] is None)
    leaves = [(s["start"], s["end"]) for s in spans
              if s["parent"] is not None and s["name"] != "pipeline.branch"]
    return self_time(root["start"], root["end"], leaves)


# ---- pipeline runs ----

def executions(src: SourceLoad) -> list[Execution]:
    source = Source(src.name, SourceType.FILE, ("PARQUET", src.path))
    return [
        Execution(AccountConfig(), source, Destination(b.name, DestinationType(b.destination)))
        for b in src.branches
    ]


def transport_factory(wl: PipelineWorkload, log_dir: str) -> Callable[[Execution], RecordingTransport]:
    specs = {b.name: b for b in wl.branches}

    def make(e: Execution) -> RecordingTransport:
        b = specs[e.destination.name]
        return RecordingTransport(b.name, log_dir, b.reject_key, b.inject_retries)

    return make


def run_pipeline(spark: SparkSession, wl: PipelineWorkload, log_dir: str) -> RunResult:
    os.makedirs(log_dir, exist_ok=True)
    execs = [e for src in wl.sources for e in executions(src)]
    return Pipeline(spark, execs, transport_factory(wl, log_dir)).run()


def check_pipeline(wl: PipelineWorkload, result: RunResult, sends: list[dict]) -> tuple[list[str], int]:
    """Correctness gate for one run. Returns (problems, failed operations)."""
    problems: list[str] = []
    failed = 0
    by_dest = {b.execution.destination.name: b for b in result.branches}
    if result.exit_code != 0:
        problems.append(f"exit_code {result.exit_code}")
    for spec in wl.branches:
        got = by_dest.get(spec.name)
        if got is None or not got.ok:
            failed += spec.rows_read
            problems.append(f"{spec.name}: errors {got.errors[:2] if got else 'missing'}")
            continue
        if (got.rows_read, got.rows_uploaded) != (spec.rows_read, spec.rows_uploaded):
            problems.append(
                f"{spec.name}: rows read/uploaded {got.rows_read}/{got.rows_uploaded}, "
                f"expected {spec.rows_read}/{spec.rows_uploaded}"
            )
        mine = [s for s in sends if s["b"] == spec.name]
        ok = [s for s in mine if s["ok"]]
        if combine(int(s["d"]) for s in ok) != spec.digest:
            problems.append(f"{spec.name}: accepted-payload digest differs from reference")
        per_chunk: dict[tuple, list[dict]] = defaultdict(list)
        for s in mine:
            per_chunk[(s["p"], s["c"])].append(s)
        for (p, c), attempts in per_chunk.items():
            good = [s for s in attempts if s["ok"]]
            if not good:
                failed += attempts[0]["n"]  # the chunk became error rows
            expected = 2 if spec.inject_retries and fails_first_attempt(p, c) else 1
            if len(attempts) != expected or len(good) != 1:
                problems.append(f"{spec.name}: chunk {p}/{c} sent {len(attempts)}x")
    for src in wl.sources:
        if src.control_path is None:
            continue
        keys, rows, _ = appended_control_keys(src)
        before = control_files(src.pristine_control) if src.pristine_control else set()
        if not before <= control_files(src.control_path):
            problems.append(f"{src.name}: control table lost pristine files")
        if control_rows(src.control_path) != src.pristine_rows + rows:
            problems.append(f"{src.name}: control row total changed outside the appended files")
        if keys != src.appended_keys or rows != len(src.appended_keys):
            problems.append(
                f"{src.name}: control table appended {rows} rows / {len(keys)} keys, "
                f"expected {len(src.appended_keys)}"
            )
    return problems, failed


def fresh_jvm(spark: SparkSession) -> None:
    """Nothing cached (the sink caches its output frame and nothing in the
    program unpersists it) and a collected heap, so each run's memory peak
    starts from the same state."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def prepare_run(spark: SparkSession, wl: PipelineWorkload) -> None:
    """Same starting state for every run: a fresh JVM state and the pristine
    control tables."""
    fresh_jvm(spark)
    for src in wl.sources:
        reset_control(src)
        have = control_rows(src.control_path)
        if have != src.pristine_rows:
            raise RuntimeError(f"{src.name}: control table holds {have} rows before the run, "
                               f"expected {src.pristine_rows}")


# ---- isolated per-layer pass ----

def _materialize(df: DataFrame) -> None:
    """Evaluate every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn: Callable[[], DataFrame]) -> tuple[DataFrame, float]:
    t = time.monotonic()
    df = fn()
    _materialize(df)
    return df, time.monotonic() - t


def _cached(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    df = df.cache()
    df.count()
    held.append(df)
    return df


def isolated_pass(spark: SparkSession, wl: PipelineWorkload, log_dir: str) -> dict[str, float]:
    """Time each layer alone: its input is cached and counted untimed, then
    the layer's output is materialized under the clock. Sums over sources
    and branches."""
    os.makedirs(log_dir, exist_ok=True)
    m: dict[str, float] = defaultdict(float)
    held: list[DataFrame] = []
    make_transport = transport_factory(wl, log_dir)
    prepare_run(spark, wl)
    try:
        for src in wl.sources:
            _isolated_source(spark, src, make_transport, log_dir, m, held)
    finally:
        for df in held:
            df.unpersist()
        prepare_run(spark, wl)
    rows_in, rows_out = m.pop("anti_join_rows_in", 0), m.pop("anti_join_rows_out", 0)
    m["data_source.dedup_drop_ratio"] = 1 - rows_out / rows_in if rows_in else 0.0
    return dict(m)


def _isolated_source(spark: SparkSession, src: SourceLoad, make_transport: Callable,
                     log_dir: str, m: dict[str, float], held: list[DataFrame]) -> None:
    execs = executions(src)
    ds = get_data_source(spark, execs[0].source)
    _, t = _timed(ds.read_raw)
    m["data_source.read_s"] += t
    raw = _cached(ds.read_raw(), held)
    m["data_source.read_rows"] += raw.count() * len(execs)
    for e in execs:
        dtype = e.destination.destination_type
        schema = get_schema(dtype)
        applied, t = _timed(lambda: schema.apply(raw))
        m["registry.apply_s"] += t
        df = _cached(applied, held)
        txn = schema.transactional_type
        if txn != TransactionalType.NOT_TRANSACTIONAL:
            control = ds.control_table(txn)
            uploaded, t = _timed(control.read)
            m["data_source.control_read_s"] += t
            uploaded = _cached(uploaded, held)
            m["data_source.control_rows_in_retention"] += uploaded.count()
            rows_in = df.count()
            deduped, t = _timed(lambda: anti_join_uploaded(df, uploaded, txn))
            m["data_source.anti_join_s"] += t
            df = _cached(deduped, held)
            m["anti_join_rows_in"] += rows_in
            m["anti_join_rows_out"] += df.count()
        transform = pipeline_mod._TRANSFORMS.get(dtype)
        if transform is not None:
            shaped, t = _timed(lambda: transform(df))
            m["hashing.transform_s"] += t
            df = _cached(shaped, held)
        sink = SinkExecutor.for_destination(make_transport(e), dtype)
        t0 = time.monotonic()
        outcome = sink.run(df)
        outcome.success.count()
        outcome.errors.collect()
        t1 = time.monotonic()
        m["executor.sink_s"] += t1 - t0
        sends = [s for s in read_send_log(log_dir) if s["b"] == e.destination.name]
        m["executor.self_s"] += self_time(t0, t1, [(s["t0"], s["t1"]) for s in sends])
        if txn != TransactionalType.NOT_TRANSACTIONAL:
            keys = _cached(outcome.success.select(*txn.keys), held)
            before = control_files(control.path) if os.path.isdir(control.path) else set()
            t = time.monotonic()
            control.append(keys)
            m["data_source.control_append_s"] += time.monotonic() - t
            m["data_source.control_rows_appended"] += keys.count()
            m["data_source.control_files_appended"] += len(control_files(control.path) - before)


def batch_sizes(wl: PipelineWorkload) -> dict[str, int]:
    """The program's batch size of each branch, by destination name."""
    return {b.name: BATCH_SIZES.get(DestinationType(b.destination), DEFAULT_BATCH_SIZE)
            for b in wl.branches}


def sink_shape(sends: list[dict], batch: dict[str, int]) -> dict[str, float]:
    """executor.chunks / chunk_fill / upload_partitions from a send log."""
    firsts = [s for s in sends if s["a"] == 1]
    capacity = sum(batch[s["b"]] for s in firsts)
    return {
        "executor.chunks": len(firsts),
        "executor.chunk_fill": sum(s["n"] for s in firsts) / capacity if capacity else 0.0,
        "executor.upload_partitions": len({(s["b"], s["p"]) for s in firsts}),
    }


def send_spans(sends: list[dict], spans: list[dict], run_id: str) -> list[dict]:
    """Worker-side send intervals as spans, parented to the action span that
    was open when they started."""
    actions = [s for s in spans if s["name"].endswith("_action")]
    out = []
    for i, s in enumerate(sends):
        parent = next((a["id"] for a in actions if a["start"] <= s["t0"] <= a["end"]), None)
        out.append({"id": f"send-{i}", "name": "transports.send", "run_id": run_id,
                    "parent": parent, "start": s["t0"], "end": s["t1"],
                    "branch": s["b"], "partition": s["p"], "chunk": s["c"], "attempt": s["a"]})
    return out


def action_metrics(spark: SparkSession, spans: list[dict]) -> dict[str, float]:
    m: dict[str, float] = {}
    for name in ("rows_read", "upload", "errors", "control_append"):
        mine = [s for s in spans if s["name"] == f"pipeline.{name}_action"]
        m[f"pipeline.{name}_action_s"] = sum(s["end"] - s["start"] for s in mine)
        m[f"pipeline.{name}_action_jobs"] = (
            job_stats(spark, [s["group"] for s in mine])["jobs"] if mine else 0
        )
    return m


# ---- operator_mix ----

# The control trio plus the PageRank kernel; README.md says which other
# kernels were left out and why (one warm pass has to stay near five seconds).
OPERATOR_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "running_total_per_customer",
    "pagerank_supply_graph",
)
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "running_total_per_customer": ("orders",),
    "pagerank_supply_graph": ("orders", "lineitem"),
}
OPERATOR_SF = 0.001
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def load_module(path: str, name: str) -> Any:
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def generate_tables(root: str, out: str, seed: int) -> dict[str, int]:
    """The repo's test-data generator, re-seeded; returns rows per table."""
    import sys

    import pyarrow.parquet as pq

    gen = load_module(os.path.join(root, "scripts", "gen_testdata.py"), "perfbench_gen")
    gen.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(OPERATOR_SF, out)
    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def oracle_hashes(root: str, entry: Any, sf_dir: str, work: str) -> tuple[dict[str, str], Callable]:
    """DuckDB results of the queries' ``oracle_sql()`` twins, hashed the way
    the repo's oracle gate hashes them; also returns that hash function."""
    import duckdb

    gate = load_module(os.path.join(root, "scripts", "compare_oracle.py"), "perfbench_oracle")
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        con.sql("SET memory_limit='1GB'")
        con.sql("SET threads=2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        sql = entry.oracle_sql()
        return {q: gate.value_hash(con.sql(sql[q]).df()) for q in OPERATOR_QUERIES}, gate.value_hash
    finally:
        con.close()


def run_queries(spark: SparkSession, entry: Any, sf_dir: str,
                tracer: Optional[Tracer] = None) -> dict[str, Any]:
    """Execute every query to completion, collecting its result; a query
    that raises yields its exception, which the gate counts as failed."""
    fns = entry.queries()
    out: dict[str, Any] = {}
    for q in OPERATOR_QUERIES:
        collect = lambda q=q: fns[q](spark, sf_dir).toPandas()
        try:
            out[q] = collect() if tracer is None else tracer.call(f"operators.{q}", collect, action=True)
        except Exception as exc:  # one failing query must not hide the others
            out[q] = exc
    return out
