#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client drives named query
classes through `SparkEntry.queries(name)(spark, dir)` and collects each full
result. See perfbench/README.md for the workloads, metrics and bounds.

Usage (from the repository root):
  python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
The line before it gives the sample count, the tail percentile, the pass
times and any failures.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave the checkout as it was

import build  # noqa: E402
import oracle  # noqa: E402

# The same heap flags on every run. The heap starts small and grows with what
# the engine holds, so peak_rss_mb follows the live set. The serial collector
# sizes the heap from the free share after each collection; G1 sizes it from
# recent GC time, which made peak_rss_mb spread 16-21% between runs.
HEAP = ["-Xms256m", "-Xmx3g", "-XX:+UseSerialGC"]
RUN_TIMEOUT_S = 165

# Batch classes: TPC-H, TPC-DS shapes, the batch Flink-SQL idioms (GraftSql,
# GroupWindowSql, LateralSql, HiveDialect), CEP and MATCH_RECOGNIZE.
BATCH = ["q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10", "q_tpch_q18",
         "q_tpch_q21", "q_tpcds_q7_shape", "q_tpcds_q19_shape", "q_tpcds_q42_shape",
         "q_sql_window_topn", "q_group_window_sql_session", "q_lateral_sql",
         "q_hive_dialect_ddl", "q_cep_next", "q_match_recognize_within"]
# graft.streaming classes, each an AvailableNow replay run to completion: a
# window, the dedup-last / changelog-join / TopN families in both their
# flatMapGroupsWithState and transformWithState runtimes, and a write-side
# upsert sink.
STREAM = ["q_stream_tumble", "q_stream_dedup_last", "q_tws_dedup_last",
          "q_changelog_join", "q_tws_changelog_join", "q_stream_topn",
          "q_tws_topn", "q_cdc_upsert_door"]

# name -> (fixture directory under perfbench/data, classes, minimum timed passes)
WORKLOADS = {
    "batch_sf01": ("sf0.1", BATCH, 2),
    "stream_replay": ("sf0.001", STREAM, 3),
}

# Per-layer metrics (traced runs): per-op median of each counter; the
# counts also get a per-run total.
LAYERS = {
    "operators.build_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms_approx": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.wait_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.core_util": "ratio",
    "scan.bytes_read": "bytes", "scan.rows_read": "rows",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "bytes",
    "result.collect_ms": "ms", "result.rows": "rows",
    "streaming.batches": "count", "streaming.machinery_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.input_rows": "rows",
    "state.commit_ms": "ms", "state.rows_total": "rows",
    "state.memory_bytes": "bytes", "state.rows_dropped_late": "rows",
    "driver.gc_ms": "ms", "driver.cpu_ms": "ms",
    "trace.drain_ms": "ms",
}
RUN_TOTALS = ["codegen.compiles", "scheduler.jobs", "scheduler.stages",
              "scheduler.tasks", "scan.bytes_read", "scan.rows_read",
              "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
              "result.rows", "streaming.batches", "streaming.input_rows",
              "state.rows_dropped_late"]


def run_engine(classes_dir, run_dir, workload, seed, seconds, trace):
    """Runs one fresh engine JVM in its own directories; returns the epoch
    second at which it was launched."""
    data, classes, min_passes = WORKLOADS[workload]
    for sub in ("cwd", "tmp", "local", "scratch", "out"):
        (run_dir / sub).mkdir(parents=True)
    jars = build.spark_jars()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", *HEAP, "-XX:-UsePerfData",
           *[a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir / 'cwd'}",
           "-cp", f"{classes_dir}:{jars}/*", "graftbench.GraftBench",
           "--classes", ",".join(classes), "--data", str(HERE / "data" / data),
           "--out", str(run_dir / "out"), "--local-dir", str(run_dir / "local"),
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--min-passes", str(min_passes)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_SCRATCH"] = str(run_dir / "scratch")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")  # overrides spark.local.dir
    log = run_dir / "engine.log"
    with open(log, "w") as out:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir / "cwd", env=env,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"engine run failed: {code}")
    return launched


def quantile(samples, p):
    """Harrell-Davis estimate of quantile p: the mean of all order statistics,
    weighted by the Beta(p(n+1), (1-p)(n+1)) mass over each one's slot. Unlike
    a single order statistic it does not jump from one class's times to the
    next class's when a few samples trade places."""
    s = sorted(samples)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 200  # midpoint rule inside each slot [(i-1)/n, i/n]
    h = 1.0 / (n * steps)
    weights = [sum(math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
                   for x in ((i * steps + k + 0.5) * h for k in range(steps))) * h
               for i in range(n)]
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it."""
    if n < 11:
        raise SystemExit(f"only {n} timed ops; the tail needs at least 11")
    return 100.0 * (n - 10) / n


def score(run_dir, launched, workload, seed, trace):
    data, classes, _ = WORKLOADS[workload]
    out = run_dir / "out"
    info = json.loads((out / "run.json").read_text())
    ops = [json.loads(line) for line in (out / "ops.jsonl").read_text().splitlines()]
    timed = [o for o in ops if o["stage"] == "timed"]

    oracle_start = time.time()
    verdict = oracle.check(HERE / "data" / data, out / "results",
                           json.loads((out / "oracle_sql.json").read_text()))
    oracle_s = time.time() - oracle_start
    wrong = {c: verdict.get(c) or "no oracle" for c in classes
             if c not in verdict or verdict[c]}
    failed = [o for o in timed if not o["ok"] or o["class"] in wrong]
    walls = [o["wall_ms"] for o in timed]
    tail_pct = tail_percentile(len(walls))
    ops_per_min = (len(timed) - len(failed)) / (info["window_s"] / 60.0)

    if trace:
        metrics = {}
        for key, unit in LAYERS.items():
            values = [o[key] for o in timed]
            metrics[key] = {"value": statistics.median(values), "unit": unit}
            if key in RUN_TOTALS:
                metrics[key + ".run_total"] = {"value": sum(values), "unit": unit}
        metrics["trace.ops_per_min"] = {"value": ops_per_min, "unit": "1/min"}
        spans = out / "spans.jsonl"
        metrics["trace.spans"] = {"value": len(spans.read_text().splitlines()),
                                  "unit": "count"}
        keep = ROOT / ".bench_trace"
        keep.mkdir(exist_ok=True)
        shutil.copy(spans, keep / f"{workload}-seed{seed}.spans.jsonl")
    else:
        metrics = {
            "setup_s": {"value": info["first_timed_ms"] / 1000.0 - launched, "unit": "s"},
            "latency_p50_ms": {"value": quantile(walls, 0.5), "unit": "ms"},
            "latency_tail_ms": {"value": quantile(walls, tail_pct / 100), "unit": "ms"},
            "ops_per_min": {"value": ops_per_min, "unit": "1/min"},
            "peak_rss_mb": {"value": info["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({
        "workload": workload, "samples": len(walls), "classes": len(classes),
        "tail_percentile": round(tail_pct, 2), "window_s": info["window_s"],
        "warmup_passes": len(info["warmup_pass_s"]),
        "warmup_pass_s": info["warmup_pass_s"], "timed_pass_s": info["timed_pass_s"],
        "oracle_s": round(oracle_s, 2), "wrong_classes": wrong,
        "errors": sorted({o["err"] for o in timed if o["err"]})[:5]}))
    print(json.dumps({"correct": not failed, "attempted": len(timed),
                      "failed": len(failed), "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes_dir = build.ensure_built()
    run_dir = ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        launched = run_engine(classes_dir, run_dir, a.workload, a.seed, a.seconds, a.trace)
        score(run_dir, launched, a.workload, a.seed, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
