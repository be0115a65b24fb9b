"""Streaming CDC apply: a changelog stream merged into a base table via
foreachBatch — the production ingest pattern (Kafka/Debezium → lakehouse
table) that complements the batch cdc_merge_upsert query
(suites/relational.py).

Semantics per key: LATEST event wins (ordered by ``ts``, ties broken by
a monotonic ``seq``); an op='d' tombstone deletes the key. Each
micro-batch applies atomically via foreachBatch, which is exactly how
Structured Streaming documents idempotent-sink integration: the batch
function receives (batch_df, batch_id) and can use full batch APIs.

The base table STORES the full changelog resolution state
(key, ts, seq, op, payload) — including the winning tombstone per
deleted key — not just the live rows. Two correctness properties depend
on that (round-5 advisor finding):

* (ts, seq) total order survives across micro-batches. If the base
  stored only (key, ts, payload), replayed base rows would need a
  synthetic seq; any synthetic value mis-orders SOME late arrival with
  the same ts (seq=-1 loses to a stale lower-seq duplicate, seq=+inf
  beats a legitimate newer event). Persisting the real seq makes the
  merge associative: merge(merge(a,b),c) == merge(a,b∪c).
* A late upsert that is OLDER than an applied delete must stay dead.
  If tombstones were dropped at write time, the delete's (ts, seq)
  would be forgotten and the stale upsert would resurrect the key.
  Retained tombstones win the per-key window and keep it deleted.

Readers go through :func:`read_cdc_base`, which filters ``op != 'd'`` —
tombstones are bookkeeping, not data. At 100 TB the retained-tombstone
set is pruned by a compaction pass once the reordering horizon (the
source's watermark) has passed — ``tombstone_horizon`` implements that
pruning; the default retains forever, which is always correct.

Scale story: at 100 TB the base table is Delta/Iceberg and this batch
function becomes one ``MERGE INTO`` (file-pruned by the join keys, ACID
commit per micro-batch, idempotent via batch_id). Parquet-only
environments (this container) get the same dataflow with the merge
spelled out: changelog ∪ base → per-key latest-wins window → rewrite.
The window shuffle is keyed on the primary key and carries only the
changed partitions' rows in the Delta version; the parquet fallback
rewrites the base, which is the honest cost of an ACID-less format —
documented here so nobody mistakes the fallback for the scale path.

Each rewrite is published through ``publish.py`` (stage, ``_SUCCESS``,
rename pair, recovery), the helper every Parquet sink shares.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cirro_annotation_spark.publish import publish, recover

# op: 'u' = upsert (insert or update), 'd' = delete tombstone.
CHANGELOG_SCHEMA = "key long, ts timestamp, seq long, op string, payload string"
# The base persists the same five columns — see module docstring for why
# seq and tombstones must survive the write.
BASE_SCHEMA = CHANGELOG_SCHEMA


def read_cdc_base(spark: SparkSession, base_path: str) -> DataFrame:
    """The live view of the base table: tombstones filtered, payload
    columns only. Always reads with the explicit BASE_SCHEMA so an
    empty base (every key deleted) is a 0-row frame, not an inference
    error."""
    recover(base_path)
    return (
        spark.read.schema(BASE_SCHEMA)
        .parquet(base_path)
        .filter(F.col("op") != "d")
        .select("key", "ts", "payload")
    )


def apply_cdc_batch(
    batch_df: DataFrame, base_path: str, tombstone_horizon: str | None = None
) -> None:
    """Merge one changelog micro-batch into the parquet base at base_path.

    latest-wins per key on (ts, seq); the winning row is stored even
    when it is a tombstone (see module docstring). The new base is
    materialized (localCheckpoint) BEFORE the overwrite — Spark cannot
    lazily read and overwrite the same path — then published with
    :func:`~cirro_annotation_spark.publish.publish`, whose staged write
    and rename pair keep a complete base on disk at every instant (the
    Delta/Iceberg commit does this with real ACID; staging-swap +
    recovery is the file-level equivalent).

    ``tombstone_horizon``: optional SQL interval string (e.g.
    ``'7 days'``). Tombstones older than ``max(ts) - horizon`` are
    compacted away — safe once the source can no longer deliver events
    that old (its watermark), exactly like Kafka's log-compaction
    ``delete.retention.ms``.
    """
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    recover(base_path)
    batch = batch_df.select("key", "ts", "seq", "op", "payload")
    if os.path.exists(base_path):
        # Base rows replay with their STORED (ts, seq, op) — the merge
        # must be associative across micro-batches, so no synthetic seq.
        base = spark.read.schema(BASE_SCHEMA).parquet(base_path)
        merged = base.unionByName(batch)
    else:
        merged = batch
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("seq").desc())
    latest = merged.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    if tombstone_horizon is not None:
        # Scalar max, not an unpartitioned window: Window.partitionBy()
        # funnels the whole merged base through ONE task per micro-batch
        # (code-review r15). One extra driver-side job per batch buys a
        # fully parallel filter.
        horizon = F.expr(f"INTERVAL {tombstone_horizon}")
        max_ts = merged.agg(F.max("ts")).first()[0]
        latest = latest.filter(
            (F.col("op") != "d") | (F.col("ts") >= F.lit(max_ts) - horizon)
        )
    latest = latest.select("key", "ts", "seq", "op", "payload").localCheckpoint(
        eager=True
    )
    # An empty ``latest`` is written through repartition(1) so one task
    # runs and parquet still gets a footer-bearing file — a bare
    # _SUCCESS dir would break later schema-less reads.
    if latest.isEmpty():
        latest = latest.repartition(1)
    publish(base_path, latest.write.parquet)


def run_cdc_stream(
    spark: SparkSession, changelog_dir: str, base_path: str,
    max_files_per_trigger: int | None = None,
    tombstone_horizon: str | None = None,
) -> None:
    """Drain a changelog directory into the base table, one merge per
    micro-batch. In production the source line is Kafka and the sink a
    Delta MERGE; the foreachBatch seam — the part this engine owns — is
    identical."""
    reader = spark.readStream.schema(CHANGELOG_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _id: apply_cdc_batch(df, base_path, tombstone_horizon)
        )
        .option(
            "checkpointLocation",
            base_path + ".checkpoint",
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
