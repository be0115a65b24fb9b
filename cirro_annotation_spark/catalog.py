"""Catalog: where a test table lives and how one is read.

Mirrors the reference's "dataset = directory of files, one frame per
file" model (run_annotate.py:54-66, 69-101): one DataFrame per parquet
table, with its ``ts`` column normalized whatever the file stores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table with the ``ts`` column normalized to a
    proper TIMESTAMP regardless of how the file physically stores it,
    memoizing the resolved LAZY scan per (session, file-stamp).

    The memo (optimization r15, guide §5 — driver overhead) holds the
    unresolved-to-resolved *logical plan* only: ``spark.read.parquet``
    costs ~90-115 ms of driver-side schema resolution + file listing
    per call, paid by every query build and every bench repeat (~2
    tables x 3 repeats x 350 queries ≈ 4 min of pure driver time per
    suite run). No rows, partitions, or computed results are stored —
    every action over the returned frame still scans parquet from
    scratch; this is exactly what registering a catalog table gives a
    warehouse session. Keyed on (path, mtime_ns, size) so a testdata
    regeneration invalidates, and stored ON the session object so a new
    session (driver-owned or test-local) never sees another session's
    plans.

    The testdata has shipped ``events.ts`` three different ways across
    driver regenerations, and this is the single choke point that absorbs
    all of them on ANY session (including one the engine did not build):

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      outright, so the legacy ``nanosAsLong`` conf is set (per-file, iff
      the footer peek shows nanos) and the resulting bigint is truncated
      to micros — exactly what DuckDB/pandas do, keeping oracles aligned.
    - parquet micros + isAdjustedToUTC=false on a session with Spark 4's
      default NTZ inference: arrives as TIMESTAMP_NTZ; cast to TIMESTAMP
      (value-identical under the UTC session timezone tune_existing pins).
    - plain TIMESTAMP: passes through untouched.

    All three normalizations are per-row projections that pipeline inside
    the scan stage — no shuffle, scale-neutral, and the scan stays
    column-prunable/pushdown-able.
    """
    from cirro_annotation_spark.session import parquet_ts_unit

    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (0, 0)
    cache: dict = spark.__dict__.setdefault("_cirro_read_table_cache", {})
    key = (path, stamp)
    hit = cache.get(key)
    if hit is not None:
        return hit

    unit = parquet_ts_unit(path)
    if unit == "ns":
        # Schema inference happens eagerly inside spark.read.parquet, so
        # the legacy conf only needs to hold across that call; restoring
        # it immediately after keeps the hosting (possibly foreign)
        # session unpolluted — a LATER nanos read on the same session
        # must error loudly, not silently arrive as bigint (round-5
        # advisor). Execution reads through the already-resolved bigint
        # schema, so the restore is safe before any action runs
        # (verified: collect() after restore returns the raw nanos).
        from cirro_annotation_spark.session import nanos_as_long

        with nanos_as_long(spark):
            df = spark.read.parquet(path)
    else:
        df = spark.read.parquet(path)
    for f in df.schema.fields:
        if f.name != "ts":
            continue
        kind = f.dataType.simpleString()
        # div-1000 is gated on the FOOTER saying nanos, not on the Spark
        # type alone: a genuinely long-typed ts column (epoch micros or
        # a plain counter) must pass through untouched, not be misscaled
        # 1000x (round-5 advisor).
        if kind == "bigint" and unit == "ns":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if len(cache) >= 64:  # bounded: ~10 tables x a few sf dirs in practice
        cache.clear()
    cache[key] = df
    return df
