#!/usr/bin/env python3
"""Activation-pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload activation_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
under ``perfbench/.work/`` (removed at exit). The program is set up once
(SparkSession start plus one untimed warm-up run, reported as ``setup_s``);
then timed runs repeat, each from the same starting state, until
``--seconds`` of run time are measured. Every run, the untimed ones
included, passes the correctness gate. With ``--trace 1`` one traced run and
an isolated per-layer pass follow, the spans go to ``perfbench/out/`` and the
per-layer metrics are printed instead of the end-to-end ones. The last
stdout line is the JSON result; the exit code is 1 when the gate found a
problem. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("activation_mix", "operator_mix")
# Timed runs at least, even when they outlast --seconds. One pipeline run
# already outlasts --seconds (about 20 s, most of it full sink chunks), and a
# second one would push a sweep of ~50 invocations past an hour.
MIN_RUNS = {"activation_mix": 1, "operator_mix": 3}
MIN_RUNS_TRACED = 1  # --trace 1 needs one untraced run: the baseline of trace.overhead_s
TIME_CAP_S = 120.0  # stop adding timed runs past this much wall time

END_TO_END = {"run_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MiB"}

_PIPELINE_LAYER = {
    "executor.sink_s": "s", "executor.self_s": "s", "executor.chunks": "count",
    "executor.chunk_fill": "ratio", "executor.upload_partitions": "count",
    "transports.send_calls": "count", "transports.send_busy_s": "s",
    "transports.rows_sent": "count", "transports.rows_accepted": "count",
    "transports.rows_rejected": "count", "transports.retries": "count",
    "transports.attempts_per_chunk": "ratio",
    "pipeline.rows_read_action_s": "s", "pipeline.rows_read_action_jobs": "count",
    "pipeline.upload_action_s": "s", "pipeline.upload_action_jobs": "count",
    "pipeline.errors_action_s": "s", "pipeline.errors_action_jobs": "count",
    "pipeline.control_append_action_s": "s", "pipeline.control_append_action_jobs": "count",
    "data_source.read_s": "s", "data_source.read_rows": "count",
    "data_source.control_read_s": "s", "data_source.control_rows_in_retention": "count",
    "data_source.anti_join_s": "s", "data_source.dedup_drop_ratio": "ratio",
    "data_source.control_append_s": "s", "data_source.control_rows_appended": "count",
    "data_source.control_files_appended": "count",
    "registry.apply_s": "s", "hashing.transform_s": "s",
}
_RUN_LAYER = {
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.job_count_drift": "count",
    "trace.traced_run_s": "s", "trace.overhead_s": "s", "trace.uncovered_s": "s",
    "trace.isolated_sum_s": "s", "gate.failed_share": "ratio", "host.steal_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.harness import OPERATOR_QUERIES

    units = dict(_PIPELINE_LAYER)
    for q in OPERATOR_QUERIES:
        units[f"operators.{q}_s"] = "s"
        units[f"operators.{q}_jobs"] = "count"
    units.update(_RUN_LAYER)
    return units


def missing_inputs(workload: str) -> list[str]:
    need = ["megalista_spark/__init__.py"]
    if workload == "operator_mix":
        need += ["__spark_entry__.py", "scripts/gen_testdata.py", "scripts/compare_oracle.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


class Tally:
    """What the timed runs of one invocation add up to."""

    def __init__(self) -> None:
        self.run_s: list[float] = []
        self.untimed: list[float] = []  # the warm-up run
        self.peak_mb: list[float] = []
        self.steal: list[float] = []
        self.counts: list[dict] = []  # every run's jobs/stages/tasks, warm-up first
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def gate(self, label: str, problems: list[str]) -> None:
        self.problems.extend(f"{label}: {p}" for p in problems)

    def counts_stable(self) -> bool:
        return all(c == self.counts[0] for c in self.counts)

    def drift(self) -> int:
        jobs = [c["jobs"] for c in self.counts]
        return max(jobs) - min(jobs) if jobs else 0


def timed_loop(args, started: float, one_run) -> None:
    least = MIN_RUNS_TRACED if args.trace else MIN_RUNS[args.workload]
    seconds, window, k = args.seconds, 0.0, 0
    while k < least or (window < seconds and time.monotonic() - started < TIME_CAP_S):
        k += 1
        window += one_run(k)


# ---- pipeline workloads ----

def bench_pipeline(args, work: str, out_dir: str, started: float):
    from perfbench import harness as h
    from perfbench.stats import median
    from perfbench.transport import read_send_log, send_summary
    from perfbench.workloads import activation_mix

    wl = activation_mix(os.path.join(work, "data"), args.seed)
    tally, layer = Tally(), {}
    sampler = h.RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.monotonic()
        spark = h.start_spark(ROOT, work)
        sc = spark.sparkContext

        def one_run(k: int, timed: bool = True) -> float:
            h.prepare_run(spark, wl)
            logs = os.path.join(work, "logs", f"run-{k}")
            group = f"run-{k}"
            sc.setJobGroup(group, f"perfbench {wl.name} run {k}")
            sampler.begin()
            ticks = h.cpu_ticks()
            t = time.monotonic()
            result = h.run_pipeline(spark, wl, logs)
            dur = time.monotonic() - t
            steal = h.steal_share(ticks, h.cpu_ticks())
            peak = sampler.end()
            problems, failed = h.check_pipeline(wl, result, read_send_log(logs))
            tally.gate(group, problems)
            shutil.rmtree(logs)
            tally.counts.append(h.job_stats(spark, [group]))
            if not timed:
                tally.untimed.append(dur)
            else:
                tally.run_s.append(dur)
                tally.peak_mb.append(peak)
                tally.steal.append(steal)
                tally.attempted += sum(b.rows_read for b in wl.branches)
                tally.failed += failed
            return dur

        one_run(0, timed=False)
        setup_s = time.monotonic() - t0
        timed_loop(args, started, one_run)

        if args.trace:
            h.prepare_run(spark, wl)
            logs = os.path.join(work, "logs", "traced")
            os.makedirs(logs)
            tracer = h.Tracer(spark, "traced")
            sc.setJobGroup("traced", f"perfbench {wl.name} traced run")
            with tracer.patched():
                t = time.monotonic()
                result = h.run_pipeline(spark, wl, logs)
                traced_s = time.monotonic() - t
            sends = read_send_log(logs)
            problems, _ = h.check_pipeline(wl, result, sends)
            tally.gate("traced", problems)
            spans = tracer.spans + h.send_spans(sends, tracer.spans, "traced")
            write_spans(out_dir, args, spans)
            counts = h.job_stats(spark, ["traced"] + tracer.groups())
            layer.update({f"pipeline.{k}": v for k, v in counts.items()})
            layer.update(h.action_metrics(spark, tracer.spans))
            summary = send_summary(sends)
            layer.update({f"transports.{k}": v for k, v in summary.items()})
            layer.update(h.sink_shape(sends, h.batch_sizes(wl)))
            isolated = h.isolated_pass(spark, wl, os.path.join(work, "logs", "isolated"))
            layer.update(isolated)
            layer["trace.traced_run_s"] = traced_s
            layer["trace.overhead_s"] = traced_s - median(tally.run_s)
            layer["trace.uncovered_s"] = h.uncovered_s(tracer.spans)
            layer["trace.isolated_sum_s"] = sum(
                v for k, v in isolated.items() if k.endswith("_s") and k != "executor.self_s")
    finally:
        if spark is not None:
            h.stop_spark(spark)
        sampler.close()
    return tally, setup_s, wl.rows_read, layer


# ---- operator_mix ----

def bench_operators(args, work: str, out_dir: str, started: float):
    from perfbench import harness as h
    from perfbench.stats import median, self_time

    sf_dir = os.path.join(work, "tables")
    table_rows = h.generate_tables(ROOT, sf_dir, args.seed)
    entry = h.load_module(os.path.join(ROOT, "__spark_entry__.py"), "perfbench_entry")
    expected, value_hash = h.oracle_hashes(ROOT, entry, sf_dir, work)
    rows = sum(table_rows[t] for q in h.OPERATOR_QUERIES for t in h.QUERY_TABLES[q])
    tally, layer = Tally(), {}

    def check(label: str, results: dict) -> int:
        failed = 0
        for q, res in results.items():
            if isinstance(res, Exception):
                failed += 1
                tally.gate(label, [f"{q}: {type(res).__name__}: {str(res)[:200]}"])
            elif value_hash(res) != expected[q]:
                tally.gate(label, [f"{q}: result hash differs from the DuckDB oracle"])
        return failed

    sampler = h.RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.monotonic()
        spark = h.start_spark(ROOT, work)
        sc = spark.sparkContext

        def one_run(k: int, timed: bool = True) -> float:
            h.fresh_jvm(spark)
            group = f"pass-{k}"
            sc.setJobGroup(group, f"perfbench operator_mix pass {k}")
            sampler.begin()
            ticks = h.cpu_ticks()
            t = time.monotonic()
            results = h.run_queries(spark, entry, sf_dir)
            dur = time.monotonic() - t
            steal = h.steal_share(ticks, h.cpu_ticks())
            peak = sampler.end()
            failed = check(group, results)
            tally.counts.append(h.job_stats(spark, [group]))
            if not timed:
                tally.untimed.append(dur)
            else:
                tally.steal.append(steal)
                tally.peak_mb.append(peak)
                tally.run_s.append(dur)
                tally.attempted += len(results)
                tally.failed += failed
            return dur

        one_run(0, timed=False)
        setup_s = time.monotonic() - t0
        timed_loop(args, started, one_run)

        if args.trace:
            tracer = h.Tracer(spark, "traced")
            sc.setJobGroup("traced", "perfbench operator_mix traced pass")
            t = time.monotonic()
            results = h.run_queries(spark, entry, sf_dir, tracer)
            traced_s = time.monotonic() - t
            check("traced", results)
            root = {"id": "pass", "name": "operators.pass", "run_id": "traced",
                    "parent": None, "start": t, "end": t + traced_s}
            for s in tracer.spans:
                s["parent"] = "pass"
            spans = [root] + tracer.spans
            write_spans(out_dir, args, spans)
            counts = h.job_stats(spark, ["traced"] + tracer.groups())
            layer.update({f"pipeline.{k}": v for k, v in counts.items()})
            for s in tracer.spans:
                layer[f"{s['name']}_s"] = s["end"] - s["start"]
                layer[f"{s['name']}_jobs"] = h.job_stats(spark, [s["group"]])["jobs"]
            layer["trace.traced_run_s"] = traced_s
            layer["trace.overhead_s"] = traced_s - median(tally.run_s)
            layer["trace.uncovered_s"] = self_time(
                t, t + traced_s, [(s["start"], s["end"]) for s in tracer.spans])
    finally:
        if spark is not None:
            h.stop_spark(spark)
        sampler.close()
    return tally, setup_s, rows, layer


def write_spans(out_dir: str, args, spans: list[dict]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
    with open(path, "w", encoding="utf-8") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
    print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = missing_inputs(args.workload)
    if missing:
        print(f"perfbench: not a megalista_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import host_probe_s
    from perfbench.stats import median, quartiles

    started = time.monotonic()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(work)
    probe_before = host_probe_s()
    try:
        bench = bench_pipeline if args.workload == "activation_mix" else bench_operators
        tally, setup_s, rows, layer = bench(args, work, out_dir, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    probe_after = host_probe_s()

    run_s = median(tally.run_s)
    details = {
        "workload": args.workload, "seed": args.seed, "runs": len(tally.run_s),
        "run_s_samples": [round(x, 4) for x in tally.run_s],
        "run_s_quartiles": [round(x, 4) for x in quartiles(tally.run_s)],
        "untimed_run_s": [round(x, 4) for x in tally.untimed],
        "steal_share_samples": [round(x, 4) for x in tally.steal],
        "host_probe_s": [round(probe_before, 5), round(probe_after, 5)],
        "job_counts": tally.counts, "job_counts_stable": tally.counts_stable(),
        "gate_problems": tally.problems[:20],
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump(details, fh, indent=1)
    if not details["job_counts_stable"]:
        print(f"perfbench: job counts differ between runs of {args.workload}: "
              f"{tally.counts}", file=sys.stderr)
    print(json.dumps(details))
    if args.trace:
        units = per_layer_units()
        layer["pipeline.job_count_drift"] = tally.drift()
        layer["gate.failed_share"] = tally.failed / tally.attempted
        layer["host.steal_share"] = median(tally.steal)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = {"run_s": run_s, "rows_per_s": rows / run_s, "setup_s": setup_s,
                  "peak_rss_mb": median(tally.peak_mb)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not tally.problems,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 1 if tally.problems else 0


if __name__ == "__main__":
    sys.exit(main())
