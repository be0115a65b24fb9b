"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload annotate_dataset --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The parent process generates the
inputs from the seed (not timed), then times set-up in fresh worker
processes: ``setup_s`` is the median over ``SETUPS`` of them, each from
process start until the session has run one tiny job. The last worker
goes on to run the workload (see ``worker.py``). The final line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it records
the pinned environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 2
# CPUs the run may use. On the 4-vCPU shared VM the benchmark was tuned
# on, the host took up to 11% of the CPU time with all 4 busy and under 2%
# with 2, and the Py4J-bound driver times steadied with it (NOTES.md,
# "Pinned environment"). Workers and their JVMs inherit the affinity.
CPUS = 2
WORKER_TIMEOUT_S = 150
MB = 1_000_000

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "input_mb_per_s": "MB/s",
    "rows_out_per_s": "1/s",
    "parquet_bytes_per_input_byte": "ratio",
    "query_p50_s": "s",
    "memory_mb": "MB",
}


class BenchError(Exception):
    pass


def pinned_env(workdir: str) -> dict[str, str]:
    """The environment every worker runs in, recorded with each result."""
    local_dirs = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        # Native libraries the JVM unpacks go to java.io.tmpdir; without
        # UsePerfData off the JVM also writes /tmp/hsperfdata_<user>.
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
    }


def start_worker(args, workdir, env, probe: bool, deadline: float):
    """Start a worker and return it once it reports ready, with the
    seconds that took. A watchdog kills it at ``deadline``."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--workdir", workdir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)] + (["--probe"] if probe else [])
    log = open(os.path.join(workdir, "worker.log"), "ab")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=workdir, env={**os.environ, **env},
                            stdout=subprocess.PIPE, stderr=log, text=True)
    log.close()
    proc.watchdog = threading.Timer(max(0.0, deadline - t0), proc.kill)
    proc.watchdog.start()
    for line in proc.stdout:
        if line.strip() == "PERFBENCH READY":
            return proc, time.monotonic() - t0
    finish(proc)


def finish(proc) -> None:
    """Wait for a worker to end; its watchdog bounds the wait."""
    proc.stdout.read()
    proc.wait()
    proc.watchdog.cancel()
    if proc.returncode != 0:
        raise BenchError(f"worker exited with {proc.returncode}")


def end_to_end(res: dict, exp: dict, setups: list[float]) -> dict[str, float]:
    run_s = statistics.median(res["passes"])
    return {
        "setup_s": statistics.median(setups),
        "run_s": run_s,
        "input_mb_per_s": exp["input_bytes"] / MB / run_s,
        "rows_out_per_s": res["rows_written"] / run_s,
        "parquet_bytes_per_input_byte": res["parquet_bytes"] / exp["input_bytes"],
        "query_p50_s": statistics.median(res["queries"]),
        "memory_mb": res["memory_mb"],
    }


def run(args) -> dict:
    sys.path.insert(0, HERE)
    from gen import GENERATORS
    from worker import PER_LAYER_UNITS

    if not os.path.isfile(os.path.join(ROOT, "cirro_annotation_spark", "__init__.py")):
        raise BenchError(f"no cirro_annotation_spark package under {ROOT}")
    if args.workload not in GENERATORS:
        raise BenchError(f"unknown workload {args.workload!r}")
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CPUS])
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    exp = GENERATORS[args.workload](os.path.join(workdir, "inputs"), args.seed, args.scale)
    with open(os.path.join(workdir, "expected.json"), "w") as f:
        json.dump(exp, f)
    env = pinned_env(workdir)

    deadline = time.monotonic() + WORKER_TIMEOUT_S
    setups = []
    for _ in range(SETUPS - 1):
        proc, s = start_worker(args, workdir, env, True, deadline)
        setups.append(s)
        finish(proc)
    proc, s = start_worker(args, workdir, env, False, deadline)
    setups.append(s)
    finish(proc)
    with open(os.path.join(workdir, "result.json")) as f:
        res = json.load(f)
    if not res["passes"] or not res["queries"]:
        raise BenchError("no pass or query succeeded: " + " | ".join(res["errors"]))

    if args.trace:
        values = res["per_layer"]
        units = PER_LAYER_UNITS
    else:
        values = end_to_end(res, exp, setups)
        units = END_TO_END_UNITS
    print("perfbench env: " + json.dumps(
        {"env": env, "confs": res["confs"], "setups_s": setups,
         "passes": len(res["passes"]), "queries": len(res["queries"]),
         "quality": res.get("quality", {}), "errors": res["errors"]}))
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; tests use a small one")
    args = ap.parse_args()
    try:
        out = run(args)
    except (BenchError, OSError, ImportError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
