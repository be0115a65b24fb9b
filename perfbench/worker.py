"""The Spark-side half of one benchmark run.

Started by ``run.py`` with the checkout root on ``PYTHONPATH``. It builds
the session through the program's own ``get_spark``, runs one tiny job,
then prints ``PERFBENCH READY`` so the parent can time set-up from
process start. A probe (``--probe``) stops there. Otherwise it warms the
workload up, runs timed passes for ``--seconds`` seconds, then a fixed
number of queries, and writes ``result.json`` into the work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict

RECALL_FLOOR = 0.8

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "discovery.discover_files_s": "s",
    "discovery.files_listed": "count",
    "dsv.sniff_calls": "count",
    "dsv.sniff_s": "s",
    "dsv.harvest_columns_s": "s",
    "dsv.read_dsv_s": "s",
    "dsv.read_dsv_jobs": "count",
    "dsv.read_dsv_tasks": "count",
    "dsv.read_dsv_input_bytes": "bytes",
    "planner.build_manifest_s": "s",
    "planner.commands": "count",
    "optimizer.optimize_manifest_s": "s",
    "compiler.compile_command_s": "s",
    "compiler.files_matched": "count",
    "executor.execute_manifest_s": "s",
    "executor.write_tasks": "count",
    "executor.output_files": "count",
    "executor.output_bytes": "bytes",
    "executor.task_cpu_s": "s",
    "executor.gc_s": "s",
    "executor.spill_bytes": "bytes",
    "hdf.chunks_to_parquet_s": "s",
    "hdf.write_jobs": "count",
    "hdf.output_files": "count",
    "dedup.exact_s": "s",
    "dedup.near_minhash_s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "dedup.recall": "ratio",
    "similarity.kmeans_train_s": "s",
    "similarity.topk_exact_s": "s",
    "similarity.topk_ivf_s": "s",
    "similarity.recall_at_10": "ratio",
    "similarity.ivf_py4j_calls": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.driver_serial_s": "s",
    "spark.query_driver_serial_s": "s",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_layers(root, spans, kids, cores, out_dirs) -> dict[str, float]:
    """Per-layer numbers of one traced pass, from the spans under it."""
    from tracing import duration, idle_seconds, self_time, subtree
    from workloads import parquet_stats

    sub = subtree(root, kids)
    by = defaultdict(list)
    for s in sub:
        by[s["name"]].append(s)

    def total(name):
        return sum(duration(s) for s in by[name])

    def own(name):
        return sum(self_time(s, kids) for s in by[name])

    def count(name):
        return sum(s["count"] or 0 for s in by[name])

    def spark_sum(name, key, deep=False):
        spans_ = [x for s in by[name] for x in subtree(s, kids)] if deep else by[name]
        return sum(x.get(key, 0) for x in spans_)

    task_run_s = sum(s.get("run_ms", 0) for s in sub) / 1000.0
    m = {
        "discovery.discover_files_s": total("discovery.discover_files"),
        "discovery.files_listed": count("discovery.discover_files"),
        "dsv.sniff_calls": len(by["dsv.sniff"]),
        "dsv.sniff_s": total("dsv.sniff"),
        "dsv.harvest_columns_s": total("dsv.harvest_columns"),
        "dsv.read_dsv_s": total("dsv.read_dsv"),
        "dsv.read_dsv_jobs": spark_sum("dsv.read_dsv", "jobs"),
        "dsv.read_dsv_tasks": spark_sum("dsv.read_dsv", "tasks"),
        "dsv.read_dsv_input_bytes": spark_sum("dsv.read_dsv", "input_bytes"),
        "planner.build_manifest_s": own("planner.build_manifest"),
        "planner.commands": count("planner.build_manifest"),
        "optimizer.optimize_manifest_s": total("optimizer.optimize_manifest"),
        "compiler.compile_command_s": own("compiler.compile_command"),
        "compiler.files_matched": count("dsv.read_dsv"),
        "executor.execute_manifest_s": own("executor.execute_manifest"),
        "executor.write_tasks": spark_sum("executor.execute_manifest", "tasks"),
        "executor.task_cpu_s": spark_sum("executor.execute_manifest", "cpu_ns", True) / 1e9,
        "executor.gc_s": spark_sum("executor.execute_manifest", "gc_ms", True) / 1000.0,
        "executor.spill_bytes": spark_sum("executor.execute_manifest", "spill_bytes", True),
        "hdf.chunks_to_parquet_s": total("hdf.chunks_to_parquet"),
        "hdf.write_jobs": spark_sum("hdf.chunks_to_parquet", "jobs", True),
        "dedup.exact_s": total("dedup.exact"),
        "dedup.near_minhash_s": total("dedup.near_minhash"),
        "dedup.shuffle_write_bytes": spark_sum("dedup.exact", "shuffle_write_bytes", True)
        + spark_sum("dedup.near_minhash", "shuffle_write_bytes", True),
        "spark.jobs": sum(s.get("jobs", 0) for s in sub),
        "spark.tasks": sum(s.get("tasks", 0) for s in sub),
        "spark.task_run_s": task_run_s,
        "spark.core_busy_ratio": task_run_s / (duration(root) * cores),
        "spark.driver_serial_s": idle_seconds(root, sub),
    }
    m["executor.output_files"], m["executor.output_bytes"] = (
        parquet_stats(out_dirs["executor"]) if out_dirs.get("executor") else (0, 0)
    )
    m["hdf.output_files"] = parquet_stats(out_dirs["hdf"])[0] if out_dirs.get("hdf") else 0
    return m


def _memory_mb(spark) -> tuple[float, float]:
    """(retained, peak RSS) in MB for the Python driver plus its JVM.

    Retained memory is the driver's peak RSS plus what the JVM still
    holds after a full GC at the end of the run (heap and non-heap in
    use). The JVM's peak RSS follows when G1 happens to grow the heap
    and varied by 30% between runs of the same code, so it is reported
    but not bounded."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = spark.sparkContext._jvm
    jvm_hwm_kb = 0
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_hwm_kb = int(line.split()[1])
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    held = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return py_mb + held / 2**20, py_mb + jvm_hwm_kb / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait until its JVM has exited: the JVM ends
    when the pipe to its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--probe", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from cirro_annotation_spark.session import get_spark

    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    print("PERFBENCH READY", flush=True)
    if args.probe:
        _stop(spark)
        return 0

    # Imported only now, so that set-up time covers what get_spark needs
    # and not the benchmark's own modules.
    from tracing import Tracer, children, duration, idle_seconds, subtree
    from workloads import WORKLOADS, parquet_stats

    with open(os.path.join(args.workdir, "expected.json")) as f:
        exp = json.load(f)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    if args.trace:
        tracer.instrument()
    cls = WORKLOADS[args.workload]
    wl = cls(spark, tracer, os.path.join(args.workdir, "inputs"),
             os.path.join(args.workdir, "out"), exp, args.seed)

    attempted = failed = 0
    errors: list[str] = []

    def attempt(fn):
        nonlocal attempted, failed
        attempted += 1
        try:
            return fn()
        except Exception:  # one failed op is counted, the run goes on
            failed += 1
            errors.append(traceback.format_exc())
            sys.stderr.write(errors[-1])
            return None

    phases = {"ready": time.perf_counter() - t0}
    # Warm-up: the first passes pay class loading and JIT compilation;
    # users who convert many datasets in one session do not. The timed
    # passes, which run the same code, are the ones checked.
    for _ in range(wl.WARM_PASSES):
        wl.reset_output()
        attempt(wl.run_pass)

    phases["warm"] = time.perf_counter() - t0
    passes, traced_passes, untraced_passes, pass_roots = [], [], [], []
    rows_written = parquet_bytes = 0
    start = time.perf_counter()
    min_passes = wl.MIN_PASSES + (1 if args.trace else 0)
    n = 0
    while n < min_passes or time.perf_counter() - start < args.seconds:
        wl.reset_output()
        traced = bool(args.trace) and n % 2 == 0
        n += 1
        tracer.enabled = traced
        t = time.perf_counter()
        with tracer.span("pass") as root:
            ok = attempt(lambda: (wl.run_pass(), True)[1])
        dt = time.perf_counter() - t
        tracer.enabled = False
        if ok:
            rows = attempt(wl.check_pass)
            if rows is not None:
                passes.append(dt)
                (traced_passes if traced else untraced_passes).append(dt)
                if traced:
                    pass_roots.append(root)
                rows_written = rows
                parquet_bytes = parquet_stats(wl.out)[1]
        if traced:
            tracer.collect_spark_metrics()

    phases["timed"] = time.perf_counter() - t0
    tracer.enabled = bool(args.trace)
    attempt(wl.prepare_queries)
    tracer.enabled = False
    for _ in range(wl.WARM_QUERIES):
        attempt(wl.query)
    queries, query_roots = [], []
    for _ in range(wl.QUERIES):
        tracer.enabled = bool(args.trace)
        t = time.perf_counter()
        with tracer.span("query") as root:
            ok = attempt(lambda: (wl.query(), True)[1])
        dt = time.perf_counter() - t
        tracer.enabled = False
        if ok:
            queries.append(dt)
            if root is not None:
                query_roots.append(root)
    phases["queries"] = time.perf_counter() - t0
    if args.trace:
        tracer.collect_spark_metrics()

    recall = getattr(wl, "recalls", None)
    if recall:
        mean_recall = sum(recall) / len(recall)
        wl.quality["similarity.recall_at_10"] = mean_recall
        if mean_recall < RECALL_FLOOR:
            attempted += 1
            failed += 1
            errors.append(f"IVF recall@10 {mean_recall:.3f} below {RECALL_FLOOR}")
    if getattr(wl, "dedup_recalls", None):
        wl.quality["dedup.recall"] = min(wl.dedup_recalls)

    memory_mb, peak_rss_mb = _memory_mb(spark)
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[-3:],
        "passes": untraced_passes if args.trace else passes,
        "queries": queries,
        "rows_written": rows_written,
        "parquet_bytes": parquet_bytes,
        "memory_mb": memory_mb,
        "peak_rss_mb": peak_rss_mb,
        "phases_s": phases,
        "confs": {
            k: spark.conf.get(k, None)
            for k in (
                "spark.master",
                "spark.driver.memory",
                "spark.sql.shuffle.partitions",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes",
                "spark.sql.adaptive.enabled",
            )
        },
    }

    if args.trace:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        kids = children(tracer.spans)
        per_pass = [_pass_layers(r, tracer.spans, kids, cores, wl.out_dirs()) for r in pass_roots]
        layers = {k: _median([p[k] for p in per_pass]) for k in (per_pass[0] if per_pass else {})}
        by_name = defaultdict(list)
        for s in tracer.spans:
            by_name[s["name"]].append(duration(s))
        layers["similarity.kmeans_train_s"] = _median(by_name["similarity.kmeans_train"])
        layers["similarity.topk_exact_s"] = _median(by_name["similarity.topk_exact"])
        layers["similarity.topk_ivf_s"] = _median(by_name["similarity.topk_ivf"])
        for name, counts in tracer.py4j_calls.items():
            layers[name] = _median(counts)
        layers["spark.query_driver_serial_s"] = _median(
            [idle_seconds(r, subtree(r, kids)) for r in query_roots]
        )
        layers["session.get_spark_s"] = get_spark_s
        layers["memory.peak_rss_mb"] = peak_rss_mb
        layers["trace.overhead_s"] = _median(traced_passes) - _median(untraced_passes)
        layers.update(wl.quality)
        layers.update(wl.trace_extras())
        result["per_layer"] = {k: float(layers.get(k, 0.0)) for k in PER_LAYER_UNITS}
        tracer.write(os.path.join(args.workdir, "spans.jsonl"))
    else:
        result["quality"] = wl.quality

    with open(os.path.join(args.workdir, "result.json"), "w") as f:
        json.dump(result, f)
    _stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
