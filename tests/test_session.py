"""Session tuning contract: runtime-settable confs only, and the
split-sizing knob's env override (ADVICE r7 — without it, big inputs
under the fixture-shaped 1 MB default get pathological task counts
with no recourse but a code change). Then the driver JVM's class-data
archive: written once at exit, mapped after, never used half-written."""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from cirro_annotation_spark.session import _archive_path, _publish, tune_existing


def test_max_partition_bytes_env_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
    try:
        tune_existing(spark)
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "128m"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES")
        tune_existing(spark)  # restore the harness default for the suite
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(
        1024 * 1024
    )


# --- class-data sharing: the driver JVM's archive in the user cache ---

_PROBE = """
import json, sys
from cirro_annotation_spark.session import get_spark
spark = get_spark("cds-probe")
spark.range(1).count()
jvm = spark.sparkContext._jvm
jvm.java.lang.System.gc()
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    mapped = any("/cirro_annotation_spark/spark-" in line for line in f)
nonheap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
sys.stdout.write("PROBE " + json.dumps({
    "mapped": mapped,
    "nonheap_mb": nonheap.getNonHeapMemoryUsage().getUsed() / 2**20,
    "probe_conf": spark.conf.get("spark.cirro.probe", None),
}) + "\\n")
"""


def _probe(tmp_path, conf_dir, driver_mem="1g") -> dict:
    """Run one fresh process that starts a session and a job, then exits;
    its JSON report. Only that one line may reach stdout."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf_dir),
               SPARK_GRAFT_DRIVER_MEM=driver_mem, SPARK_GRAFT_CPUS="1",
               PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    proc = subprocess.run([sys.executable, "-c", _PROBE], env=env, capture_output=True,
                          text=True, timeout=240)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1 and lines[0].startswith("PROBE "), proc.stdout[:3000]
    return json.loads(lines[0][len("PROBE "):])


def _cache_files(tmp_path) -> list[str]:
    folder = tmp_path / "cache" / "cirro_annotation_spark"
    return sorted(p.name for p in folder.iterdir() if p.is_file())


def _dead_pid() -> int:
    proc = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    return int(proc.stdout)


def test_class_data_archive_is_written_once_then_mapped(tmp_path, monkeypatch):
    """The first process dumps the archive at exit and publishes it; the
    next maps it (archived class metadata leaves the counted non-heap
    pool). A truncated archive at a dead process's temp path is never
    mapped, and a publish deletes it with other keys' archives. A JVM
    the archive does not fit (no compressed oops at a 40 GB heap) starts
    plainly and leaves the archive as it was."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    archive = _archive_path()
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.cirro.probe 1\n")
    folder = tmp_path / "cache" / "cirro_annotation_spark"
    folder.mkdir(parents=True)
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java")))
    )
    with open(os.path.join(java_home, "lib", "server", "classes.jsa"), "rb") as f:
        truncated = f.read(1 << 20)
    (folder / f"{os.path.basename(archive)}.{_dead_pid()}.tmp").write_bytes(truncated)
    (folder / "spark-0000000000000000.jsa").write_bytes(truncated)

    cold = _probe(tmp_path, conf)
    assert not cold["mapped"] and cold["probe_conf"] is None  # templates are not read
    assert _cache_files(tmp_path) == [os.path.basename(archive)]
    assert os.path.getsize(archive) > 10 << 20

    warm = _probe(tmp_path, conf)
    assert warm["mapped"]
    assert warm["nonheap_mb"] < cold["nonheap_mb"] / 2, (cold, warm)
    assert _cache_files(tmp_path) == [os.path.basename(archive)]

    stamp = os.stat(archive).st_mtime_ns
    assert not _probe(tmp_path, conf, driver_mem="40g")["mapped"]
    assert _cache_files(tmp_path) == [os.path.basename(archive)]
    assert os.stat(archive).st_mtime_ns == stamp


def test_real_spark_conf_dir_starts_plainly(tmp_path):
    """A conf dir Spark reads must stay on the classpath, and no archive
    can be dumped with it there: the session starts as without an
    archive, and the conf's values are in effect."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cirro.probe 42\n")
    report = _probe(tmp_path, conf)
    assert report == {**report, "mapped": False, "probe_conf": "42"}
    folder = tmp_path / "cache" / "cirro_annotation_spark"
    assert not folder.exists() or not _cache_files(tmp_path)


def test_publish_moves_only_a_clean_dump_and_clears_stale_files(tmp_path):
    """Only a dump whose JVM exited 0 reaches the mapped path; a publish
    deletes other keys' archives and dead processes' temp files but
    keeps a live process's temp file."""
    live = tmp_path / f"spark-aaaa.jsa.{os.getpid()}.tmp"
    dead = tmp_path / f"spark-aaaa.jsa.{_dead_pid()}.tmp"
    other = tmp_path / "spark-bbbb.jsa"
    unrelated = tmp_path / "notes.txt"
    for p in (live, dead, other, unrelated):
        p.write_bytes(b"x")

    _publish(str(live), 1)
    assert not live.exists() and not (tmp_path / "spark-aaaa.jsa").exists()

    live.write_bytes(b"archive")
    mine = tmp_path / f"spark-cccc.jsa.{os.getpid()}.tmp"
    mine.write_bytes(b"x")
    _publish(str(live), 0)
    assert (tmp_path / "spark-aaaa.jsa").read_bytes() == b"archive"
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["spark-aaaa.jsa", mine.name, "notes.txt"]
    )
