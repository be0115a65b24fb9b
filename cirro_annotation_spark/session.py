"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would ship to a 1000-executor cluster, minus the
master/memory lines which are deployment-specific.

A driver JVM that this process launches starts from a dynamic class-data
sharing archive (JDK ``-XX:SharedArchiveFile``) kept in the user's cache,
``$XDG_CACHE_HOME/cirro_annotation_spark`` (``~/.cache/...`` by default):
the JVM maps the Spark classes it loaded last time instead of parsing and
verifying them again, which cuts session set-up (``get_spark`` and the
first job) from about 10 s to about 6 s. The first process per JDK and Spark install has no archive
yet; its JVM writes one when it exits (:func:`_publish_archive`), and only
an archive whose JVM exited 0 is ever put where the next launch maps it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from contextlib import contextmanager, suppress
from functools import lru_cache

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def parquet_ts_unit(path: str) -> str | None:
    """Physical time unit ('ns'|'us'|'ms'|'s') of a parquet file's ``ts``
    column, or None if the file has no timestamp-typed ``ts``.

    Footer-only read (pyarrow) — no data pages touched. Cached on
    (path, mtime, size), NOT path alone: a file regenerated in place
    within one process (exactly the driver-regeneration scenario this
    peek defends against) must invalidate the cached unit, or the stale
    unit selects the wrong schema/normalization (round-5 advisor).
    This peek is what makes the nanos legacy conf CONDITIONAL: the
    round-3 testdata stored TIMESTAMP(NANOS) (vectorized reader rejects
    it without ``nanosAsLong``), round-4 regenerated it as micros (where
    ``nanosAsLong`` would be dead config). Reading the actual physical
    type instead of assuming either era survives the next regeneration.
    """
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (0, 0)
    return _parquet_ts_unit_stamped(path, stamp)


@lru_cache(maxsize=1024)
def _parquet_ts_unit_stamped(path: str, _stamp: tuple[int, int]) -> str | None:
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        field = pq.read_schema(path).field("ts")
        if pa.types.is_timestamp(field.type):
            return field.type.unit
    except Exception:
        return None
    return None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "cirro_annotation_spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - When this call launches the driver JVM, the JVM starts from the
      class-data archive in the user's cache, or writes that archive at
      exit when there is none yet (see :func:`_launch`). Nothing changes
      in the session: the archive only holds parsed JDK and Spark classes.
    - AQE on: runtime partition coalescing + skew-join handling, the
      scale levers that matter at 100 TB.
    - shuffle.partitions = local cores (cluster deployments override to
      ~2-3x total cores; AQE coalesces down from there).
    - session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle (UTC-naive) and are deployment-independent.
    - Arrow on for the few pandas-UDF paths (similarity, multimodal).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Without this, parquet timestamps with isAdjustedToUTC=false
        # (how the testdata stores ts) infer as TIMESTAMP_NTZ on Spark 4,
        # and unix_micros()/watermarks reject them. catalog.read_table
        # also normalizes NTZ defensively for sessions we did not build.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # nanosAsLong is NOT set here: it is applied per-file by
        # catalog.read_table, iff the footer peek shows TIMESTAMP(NANOS).
        # Runtime bloom-filter join pruning: build a bloom of the small
        # side's join keys and push it into the big side's scan — at
        # 100 TB this skips row groups the join would discard anyway.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    spark = _launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    # Runtime-settable confs live in ONE place: tune_existing. The
    # builder block above carries only what must be set before the JVM
    # exists (master, memory, static optimizer flags) plus safe
    # defaults; without this call a get_spark session ran with 128 MB
    # input splits until the first suites/util.t rescue, and the
    # SPARK_GRAFT_MAX_PARTITION_BYTES knob was silently ignored
    # (code-review r15: the two conf blocks had already drifted).
    return tune_existing(spark)


_UNQUOTABLE = re.compile(r"[\s'\"\\:]")  # breaks a JVM option string or a classpath


def _cache_dir() -> str:
    """Where the class-data archive lives: the XDG user cache."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "cirro_annotation_spark")


def _archive_path() -> str | None:
    """``<cache>/spark-<key>.jsa``: ``key`` hashes the ``java`` binary
    spark-submit runs and the Spark ``jars/`` listing (names and sizes),
    so a JDK or Spark upgrade gets a new archive. None without a java."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    key = hashlib.sha256(os.path.realpath(java).encode())
    with os.scandir(os.path.join(_find_spark_home(), "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            key.update(f"\0{e.name}\0{e.stat().st_size}".encode())
    return os.path.join(_cache_dir(), f"spark-{key.hexdigest()[:16]}.jsa")


def _cds_launch() -> tuple[str, str, str | None] | None:
    """``(extraJavaOptions, conf dir, temp archive)`` when the driver JVM
    this process is about to launch can use class-data sharing, else None
    (a plain start, exactly as without an archive).

    JDK 17 refuses to dump when a non-empty directory is on the classpath,
    and spark-submit puts the conf dir first, so the JVM launches with an
    empty conf dir from the cache. That is the same launch only while the
    real conf dir holds nothing but ``*.template`` files, which Spark never
    reads, and nothing else joins the classpath (a Hadoop or YARN conf
    dir, ``SPARK_DIST_CLASSPATH``).
    ``temp archive`` is where the JVM dumps at exit when no archive exists.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # this process does not launch the JVM
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except OSError:
        pass  # no conf dir: nothing Spark would read
    try:
        archive = _archive_path()
        if archive is None or _UNQUOTABLE.search(archive):
            return None
        empty_conf = os.path.join(_cache_dir(), "empty-conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(_cache_dir(), os.W_OK):
            return None
    except OSError:
        return None  # the cache cannot be written
    # cds=off: the JVM logs CDS warnings (skipped classes, a stale
    # archive) to the driver's stdout, which belongs to the caller.
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} -Xshare:auto -Xlog:cds=off", empty_conf, None
    tmp = f"{archive}.{os.getpid()}.tmp"
    return f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off", empty_conf, tmp


def _launch(builder: SparkSession.Builder) -> SparkSession:
    """``builder.getOrCreate()``, launching the driver JVM from the
    class-data archive (or dumping one at exit) when :func:`_cds_launch`
    allows it. ``SPARK_CONF_DIR`` is changed only for the launch."""
    launch = _cds_launch()
    if launch is None:
        return builder.getOrCreate()
    options, conf_dir, tmp = launch
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.config("spark.driver.extraJavaOptions", options).getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if tmp is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp)
    return spark


def _publish_archive(proc, tmp: str) -> None:
    """At interpreter exit: stop the session and let the JVM exit (it
    ends when the pipe to its stdin closes), so that it dumps its archive
    to ``tmp``, then :func:`_publish` it by the JVM's exit code."""
    if not tmp.endswith(f".{os.getpid()}.tmp"):
        return  # a forked child: the JVM belongs to its parent
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
    except Exception:
        pass  # the JVM is already gone; its exit code decides below
    proc.stdin.close()
    try:
        code = proc.wait(timeout=300)  # a dump takes about 10 s
    except subprocess.TimeoutExpired:
        proc.kill()
        code = None
    _publish(tmp, code)


def _publish(tmp: str, code: int | None) -> None:
    """Move the archive dumped to ``tmp`` into place only if its JVM
    exited 0; else delete it. A JVM that failed or was killed mid-dump
    leaves at most a partial temp file, which is never mapped: a
    truncated archive at the mapped path would crash the next JVM."""
    if code == 0 and os.path.isfile(tmp):
        archive = tmp.rsplit(".", 2)[0]
        os.replace(tmp, archive)
        _clean_cache(archive)
    else:
        with suppress(OSError):
            os.remove(tmp)


def _clean_cache(keep: str) -> None:
    """Delete the archives of other keys (an upgraded JDK or Spark) and
    the temp files of processes that no longer run."""
    folder = os.path.dirname(keep)
    for name in os.listdir(folder):
        path = os.path.join(folder, name)
        if path == keep or not name.startswith("spark-"):
            continue
        if name.endswith(".jsa") or (
            name.endswith(".tmp") and not _pid_alive(name.rsplit(".", 2)[-2])
        ):
            with suppress(OSError):
                os.remove(path)


def _pid_alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        pass  # another user's process
    return True


NANOS_CONF_KEY = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def nanos_as_long(spark: SparkSession):
    """Scoped ``nanosAsLong=true`` with exact restore — THE protocol for
    reading a TIMESTAMP(NANOS) parquet (vectorized reader rejects it
    otherwise). Restoring matters: the conf must not leak session-wide,
    so a LATER raw nanos read errors loudly instead of silently
    arriving as bigint (round-5 advisor). Shared by catalog.read_table
    (batch) and streaming.events._read_events_stream — the two copies
    had drifted in error handling (code-review r15). Schema resolution
    happens inside the scope; execution reads through the resolved
    bigint schema, so actions after restore are safe (pinned by
    tests/test_testdata_canary.py)."""
    try:
        prev = spark.conf.get(NANOS_CONF_KEY, None)
    except Exception:
        prev = None
    try:
        spark.conf.set(NANOS_CONF_KEY, "true")
    except Exception:
        pass  # conf locked by the hosting driver; the read will raise
    try:
        yield
    finally:
        try:
            if prev is None:
                spark.conf.unset(NANOS_CONF_KEY)
            else:
                spark.conf.set(NANOS_CONF_KEY, prev)
        except Exception:
            pass


def _max_partition_bytes_override() -> str:
    """Validated SPARK_GRAFT_MAX_PARTITION_BYTES (default 1 MB splits).

    Validated HERE, not inside the conf loop: the loop's blanket
    ``except`` exists for driver-locked confs and would silently
    swallow an unparseable override like ``128megs`` (ADVICE r8) —
    a bad value must fail loudly to the user who set it.
    """
    raw = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if raw is None:
        return str(1024 * 1024)
    # No internal whitespace: '128 m' passes a gappy pattern but is
    # unparseable by Spark's byteStringAs and dies silently inside
    # tune_existing's blanket except (ADVICE r9).
    if not re.fullmatch(r"\d+([kmgtp]b?|b)?", raw.strip(), re.IGNORECASE):
        raise ValueError(
            "SPARK_GRAFT_MAX_PARTITION_BYTES must be a Spark byte string "
            f"(e.g. '1048576', '128m', '1g'); got {raw!r}"
        )
    return raw.strip()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session we did not build.

    The driver hands ``entry(spark)``/``queries()`` an existing session;
    memory/master are fixed by then, but SQL confs are still settable.

    Two conf classes are pinned here. SEMANTICS confs (timezone, NTZ
    inference, Arrow transport) are required for correct answers and
    are ALWAYS set. LAYOUT confs (AQE, shuffle partitions, input-split
    sizing) only shape the physical plan; results must be identical
    under any of them. The determinism harness
    (scripts/check_determinism.py) proves exactly that by setting the
    session-local sentinel ``spark.cirro.tuneLayout=false`` and pinning
    its own divergent layout confs per session — without the sentinel
    this function re-converged every harness session onto one layout
    at the first table read, making the cross-config comparison
    vacuous (round-13 review finding).
    """
    tune_layout = True
    try:
        tune_layout = (
            spark.conf.get("spark.cirro.tuneLayout", "true") != "false"
        )
    except Exception:
        pass
    # Memoize per (session, sentinel, split-override): every t() calls
    # this rescue, and the ~16 py4j conf.set round-trips cost ~9-14 ms
    # per call — ~30 s across a 350-query x 3-repeat bench run, pure
    # driver overhead (optimization r15, guide §5). The sentinel is
    # still read fresh on every call (one round-trip) so the
    # determinism harness's tuneLayout=false sessions keep their
    # divergent layouts; a session already tuned under the same key is
    # left untouched. Deliberate consequence: externally mutating a
    # layout conf mid-session on an already-tuned session now sticks
    # until the sentinel or split override changes — callers that pin
    # a temporary layout (the TTL-expiry drain) manage save/restore
    # themselves and never relied on a mid-block re-pin.
    memo_key = (tune_layout, os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"))
    if spark.__dict__.get("_cirro_tuned_key") == memo_key:
        return spark
    layout_confs = (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(default_parallelism())),
        # Input-split sizing for THIS harness's data shape: the fixtures
        # are single small parquet files (0.6-11 MB) whose scan-stage
        # work is compute-heavy (folds, md5, levenshtein), so the 128 MB
        # default packs every file into 1-2 tasks and serializes 32
        # cores. 1 MB splits measured: q1 2.0x, q9 1.45x, survivor
        # rewrite 1.15x, zero regressions (A/B at sf0.1); the 10x docs
        # tier gains 2-3x on the fold/ER queries. On a real 100 TB
        # cluster this knob goes back UP (task count is already huge
        # there; the default exists for exactly that shape) — split
        # sizing follows bytes-per-core of actual compute, documented
        # in SCALE.md. Overridable without a code change (ADVICE r7):
        # SPARK_GRAFT_MAX_PARTITION_BYTES takes any Spark byte string
        # ("128m", "1048576"), for big inputs where 1 MB splits would
        # mean pathological task counts.
        (
            "spark.sql.files.maxPartitionBytes",
            _max_partition_bytes_override(),
        ),
        ("spark.sql.files.openCostInBytes", str(64 * 1024)),
    )
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # The round-4 driver session inferred events.ts as TIMESTAMP_NTZ
        # (micros parquet + Spark 4's inferTimestampNTZ default), breaking
        # every unix_micros call site; disable the inference here so reads
        # on a foreign session resolve ts as TIMESTAMP. nanosAsLong is
        # applied per-file in catalog.read_table iff the footer shows
        # nanos — unconditional would be dead config against micros files.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ) + (layout_confs if tune_layout else ()):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the hosting driver; keep going
    spark.__dict__["_cirro_tuned_key"] = memo_key
    return spark


