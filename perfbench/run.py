#!/usr/bin/env python
"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload holdings_refresh --seed 1 \\
        --seconds 10 --trace 0 [--scale bench|tiny]

Run from the repository root. The process starts its own Spark session
with the load pinned (``local[2]``, 2 GB driver heap), builds its
inputs from the seed, warms up, runs whole passes of the workload's op
list until ``--seconds`` have passed, checks the outputs, and prints
one ``name value unit`` line per metric, then one JSON object as the
last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark UI, wraps the package's layers and reports the per-layer metrics
instead (see README.md). Everything the run writes stays under
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import measure  # noqa: E402
import tracer  # noqa: E402

# The pinned load: half of a 4-core host for Spark tasks, the rest for
# JIT, GC and the driver; the scheduler's fan-out matches the 2 slots.
PINS = {"SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "2g"}
WORKLOADS = ("holdings_refresh", "llm_curation", "warehouse_queries")
INPUT_REPEATS = 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    proc_start = measure.process_start_epoch()
    out_dir = os.path.abspath(".perfbench")
    work = f"{out_dir}/work-{os.getpid()}"
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(PINS)
    os.environ.update({"TMPDIR": tmp, "SPARK_WAREHOUSE_DIR": f"{work}/warehouse",
                       "PYSPARK_PYTHON": sys.executable})
    try:
        return run(args, proc_start, out_dir, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, proc_start, out_dir, work, tmp) -> int:
    from ark_invest_api_rust_data_spark.session import get_spark

    # -Xms as -Xmx: a heap that does not resize keeps peak RSS comparable
    heap = PINS["SPARK_DRIVER_MEMORY"]
    conf = {"spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp, "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.time() - t0
    try:
        tree = measure.ProcTree()
        jvm = measure.JvmStats(spark)
        rec = tracer.Recorder(spark, bool(args.trace))
        wl = make_workload(args, spark, rec, f"{work}/data")

        input_times = []
        for _ in range(INPUT_REPEATS):
            t = time.time()
            wl.inputs()
            input_times.append(time.time() - t)
        t = time.time()
        wl.warmup()
        warmup_s = time.time() - t

        ref_path = f"{out_dir}/untraced-{args.workload}-{args.scale}.json"
        ref_wall = None
        if args.trace:
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    ref_wall = json.load(f)["wall_s"]
            else:  # no untraced run to compare with yet: time one pass here
                ref_wall = timed_phase(wl, rec, tree, 0)["wall_s"]
                rec.ops.clear()
            rec.install_layers()

        jvm.reset_heap_peak()
        gc0, jit0 = jvm.gc_s(), jvm.jit_s()
        pw0 = tree.python_worker_cpu_s()
        setup_s = time.time() - proc_start
        timed = timed_phase(wl, rec, tree, args.seconds)
        gc_s, jit_s = jvm.gc_s() - gc0, jvm.jit_s() - jit0
        pw_cpu = tree.python_worker_cpu_s() - pw0
        heap_peak = jvm.heap_peak_mb()
        peak_rss = tree.peak_rss_mb()
        rec.uninstall()

        bad, counters = wl.check()
        rec.dump(f"{out_dir}/{'trace' if args.trace else 'ops'}-{args.workload}-{args.seed}.json")
        failed = sum(1 for op in rec.ops if not op["ok"] or wl.op_failed(op, bad))
        attempted = len(rec.ops)
        lat = [op["end"] - op["start"] for op in rec.ops]
        passes = timed["passes"]

        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (timed["wall_s"], "s"),
                "cpu_s": (timed["cpu_s"], "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
            with open(ref_path, "w") as f:
                json.dump({"wall_s": timed["wall_s"], "seed": args.seed}, f)
            correct = failed == 0
        else:
            eng = rec.engine()
            metrics = {
                "setup.session_s": (session_s, "s"),
                "setup.inputs_s": (statistics.median(input_times), "s"),
                "setup.warmup_s": (warmup_s, "s"),
                **per_layer(rec, counters, passes),
                **{f"spark.{k}": (eng.get(k, 0.0) / passes, u) for k, u in SPARK_KEYS.items()},
                "python_workers.cpu_s": (pw_cpu / passes, "s"),
                "jvm.gc_s": (gc_s / passes, "s"),
                "jvm.jit_s": (jit_s / passes, "s"),
                "jvm.heap_peak_mb": (heap_peak, "MB"),
                "trace.overhead_s": (timed["wall_s"] - ref_wall, "s"),
                "trace.closure_err": (eng["closure_err"], "ratio"),
            }
            correct = failed == 0 and eng["closure_err"] <= tracer.CLOSURE_TOLERANCE
    finally:
        stop_spark(spark)

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"fail_ratio {failed / attempted:.6g} ratio")
    print(f"ops {attempted} (op_p50_s over n={attempted}), passes {passes}, failed {failed}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


SPARK_KEYS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "driver_s": "s", "executor_run_s": "s", "executor_cpu_s": "s", "input_mb": "MB",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "python_boot_s": "s",
    "python_init_s": "s", "python_run_s": "s", "python_sent_mb": "MB",
    "python_returned_mb": "MB",
}
PKG = tracer.PKG
# layer -> metric of its self time
LAYER_METRICS = {
    "bench": "bench.self_s",
    "pipeline": "pipeline.self_s",
    "sources.data_reader": "sources.data_reader.s",
    "operators.normalize": "operators.normalize.self_s",
    "functions.rules": "functions.rules.s",
    "functions.strings": "functions.strings.s",
    "functions.casts": "functions.casts.s",
    "operators.merge": "operators.merge.s",
    "operators.merge.watermark": "operators.merge.watermark_s",
    "sources.parquet_store": "sources.parquet_store.other_s",
    "sources.parquet_store.read": "sources.parquet_store.read_s",
    "sources.parquet_store.write": "sources.parquet_store.write_s",
    "sources.parquet_store.lake_commit": "sources.parquet_store.lake_commit_s",
    "sources.parquet_store.compact": "sources.parquet_store.compact_s",
    "plans.build": "plans.build_s",
    "plans.exec": "plans.exec_s",
    **{f"operators.{f}": f"operators.{f}.s"
       for f in ("dedup", "similarity", "clustering", "pq", "text", "multimodal",
                 "graph", "bm25", "other")},
}
# call-count metric -> the functions it counts
CALL_METRICS = {
    "operators.normalize.calls": (f"{PKG}.operators.normalize.normalize",),
    "sources.data_reader.calls": (f"{PKG}.sources.data_reader.csv_to_df",
                                  f"{PKG}.sources.data_reader.json_to_df"),
}
# counters the holdings checks read, and their units
HOLDINGS_COUNTERS = {
    "operators.merge.dup_rows": "count", "sources.data_reader.rows": "count",
    "sources.parquet_store.bytes_written": "MB", "sources.parquet_store.write_amp": "ratio",
    "sources.parquet_store.lake_files": "count", "sources.parquet_store.compact_bytes": "MB",
}


def per_layer(rec, counters: dict, passes: int) -> dict:
    """Self time and calls per layer, per pass; workload counters as read.
    Layers a workload does not reach read 0."""
    self_s, calls = rec.layer_totals()
    out = {name: (self_s.get(layer, 0.0) / passes, "s") for layer, name in LAYER_METRICS.items()}
    for name, fns in CALL_METRICS.items():
        out[name] = (sum(calls.get(f, 0) for f in fns) / passes, "count")
    for name, unit in HOLDINGS_COUNTERS.items():
        out[name] = (counters.get(name, 0.0), unit)
    return out


def timed_phase(wl, rec, tree, seconds: float) -> dict:
    """Whole passes until ``seconds`` have passed, then the workload's
    closing op. Wall and CPU are reported per pass."""
    rec.timing = True
    cpu0, t0 = tree.cpu_s(), time.time()
    i = 0
    while True:
        wl.one_pass()
        i += 1
        if time.time() - t0 >= seconds:
            break
    wl.finish()
    wall, cpu = time.time() - t0, tree.cpu_s() - cpu0
    rec.timing = False
    return {"passes": i, "wall_s": wall / i, "cpu_s": cpu / i}


def make_workload(args, spark, rec, work):
    """A workload object: ``inputs()``, ``warmup()``, ``one_pass()``,
    ``finish()`` (the closing op), ``check() -> (bad, counters)`` and
    ``op_failed(op, bad)``."""
    if args.workload == "holdings_refresh":
        from holdings import HoldingsRefresh

        return HoldingsRefresh(spark, rec, args.seed, work, args.scale)
    from probes import ProbeMix

    return ProbeMix(args.workload, spark, rec, args.seed, args.scale)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
