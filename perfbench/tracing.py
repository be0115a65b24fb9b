"""Outside-in tracing: spans around calls into the program's public
functions, each tagged with its own Spark job group so that the Spark
work a span launched can be read back from the status store.

Nothing inside the program changes. :meth:`Tracer.instrument` replaces a
public function, in every loaded module of the package that holds a
reference to it, with a wrapper that opens a span. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"
_JOB_DESC = "spark.job.description"

# (module, function, span name, whether the call launches Spark jobs).
# Functions that only run driver-side Python get no job group: setting
# one costs py4j round trips that would dwarf a 4 KB head read.
INSTRUMENTED = (
    ("cirro_annotation_spark.sources.discovery", "discover_files", "discovery.discover_files", False),
    ("cirro_annotation_spark.sources.dsv", "sniff_separator", "dsv.sniff", False),
    ("cirro_annotation_spark.sources.dsv", "harvest_columns", "dsv.harvest_columns", True),
    ("cirro_annotation_spark.sources.dsv", "read_dsv", "dsv.read_dsv", True),
    ("cirro_annotation_spark.manifest.planner", "build_manifest", "planner.build_manifest", True),
    ("cirro_annotation_spark.manifest.optimizer", "optimize_manifest", "optimizer.optimize_manifest", False),
    ("cirro_annotation_spark.manifest.compiler", "compile_command", "compiler.compile_command", True),
    ("cirro_annotation_spark.manifest.executor", "execute_manifest", "executor.execute_manifest", True),
    ("cirro_annotation_spark.sources.hdf", "hdf_chunks_to_parquet", "hdf.chunks_to_parquet", True),
)


def _result_count(name: str, args, result) -> int | None:
    """The work count a span records from its call: files listed,
    commands planned, files handed to a scan."""
    if name == "discovery.discover_files":
        return len(result)
    if name == "planner.build_manifest":
        return len(result.commands)
    if name == "dsv.read_dsv":
        paths = args[1] if len(args) > 1 else None
        return 1 if isinstance(paths, str) else len(paths or ())
    return None


class Tracer:
    """Span recorder for one benchmark run. Disabled spans cost one
    attribute check, so the same instrumented code runs untraced."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls: dict[str, list[int]] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": None,
            "start": time.perf_counter(),
            "epoch_start": time.time(),
            "end": None,
            "count": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if jobs:
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            prev = self.sc.getLocalProperty(_JOB_GROUP)
            self.sc.setLocalProperty(_JOB_GROUP, rec["group"])
            self.sc.setLocalProperty(_JOB_DESC, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end"] = time.time()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty(_JOB_GROUP, prev)
                self.sc.setLocalProperty(_JOB_DESC, None)

    @contextmanager
    def count_py4j(self, name: str):
        """Count the Py4J commands the driver sends to the JVM inside the
        block and append the count to ``self.py4j_calls[name]``."""
        if not self.enabled:
            yield
            return
        from py4j import clientserver, java_gateway

        sent = [0]
        patched = []
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, *args, _original=original, **kwargs):
                sent[0] += 1
                return _original(conn, *args, **kwargs)

            cls.send_command = counted
            patched.append((cls, original))
        try:
            yield
        finally:
            for cls, original in patched:
                cls.send_command = original
            self.py4j_calls.setdefault(name, []).append(sent[0])

    def instrument(self) -> None:
        """Wrap every function in :data:`INSTRUMENTED` wherever the
        package refers to it; a function a later version renamed is
        skipped, so its metrics read zero instead of breaking the run."""
        for mod_name, attr, span_name, jobs in INSTRUMENTED:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            original = getattr(mod, attr, None)
            if original is None:
                continue
            wrapper = self._wrap(original, span_name, jobs)
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if name.startswith("cirro_annotation_spark") and (
                    getattr(other, attr, None) is original
                ):
                    setattr(other, attr, wrapper)

    def _wrap(self, fn, span_name: str, jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(span_name, jobs=jobs) as rec:
                result = fn(*args, **kwargs)
                rec["count"] = _result_count(span_name, args, result)
                return result

        return wrapper

    # -- reading Spark's status store -------------------------------------
    def collect_spark_metrics(self) -> None:
        """Attach job, stage and task counters to every span that owns a
        job group. Called after the timed work, so readout is not timed."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set[int] = set()
        for rec in self.spans:
            if rec["group"] is None or "jobs" in rec:
                continue
            stats = {"jobs": 0, "tasks": 0, "input_bytes": 0, "output_bytes": 0,
                     "shuffle_write_bytes": 0, "run_ms": 0, "cpu_ns": 0,
                     "gc_ms": 0, "spill_bytes": 0}
            intervals = []
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                stats["jobs"] += 1
                job = store.job(job_id)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append((job.submissionTime().get().getTime() / 1000.0,
                                      job.completionTime().get().getTime() / 1000.0))
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # py4j error: stage skipped or evicted
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    stats["tasks"] += st.numTasks()
                    stats["input_bytes"] += st.inputBytes()
                    stats["output_bytes"] += st.outputBytes()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["run_ms"] += st.executorRunTime()
                    stats["cpu_ns"] += st.executorCpuTime()
                    stats["gc_ms"] += st.jvmGcTime()
                    stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec.update(stats)
            rec["job_intervals"] = intervals

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# -- span arithmetic ------------------------------------------------------
def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_time(s: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the part its (sequential) children cover."""
    return duration(s) - sum(duration(c) for c in kids.get(s["id"], ()))


def subtree(s: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [s]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids.get(cur["id"], ()))
    return out


def idle_seconds(root: dict, spans: list[dict]) -> float:
    """Wall time inside ``root`` during which no Spark job was running."""
    lo, hi = root["epoch_start"], root["epoch_end"]
    ivs = sorted(
        (max(a, lo), min(b, hi))
        for s in spans
        for a, b in s.get("job_intervals", ())
        if b > lo and a < hi
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, (hi - lo) - busy)
