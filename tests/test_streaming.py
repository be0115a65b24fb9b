"""Structured Streaming coverage (SURVEY.md §2.10): batch/stream parity
for windowed aggregation, session-window semantics, stateful dedup.
"""
from __future__ import annotations

import os

from cirro_annotation_spark.streaming import events as STRM
from cirro_annotation_spark.suites.util import t


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_batch_stream_parity_tumbling(spark, sf_dir):
    """The identical groupBy(window(...)) through readStream (complete
    mode, watermark never triggers at completion) equals the batch run —
    Structured Streaming's core promise."""
    batch = STRM.tumbling_agg(t(spark, sf_dir, "events"), "1 hour")
    stream = STRM.run_streaming_over_parquet(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda s: STRM.tumbling_agg(s, "1 hour"),
    )
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _sorted_rows(batch, cols) == _sorted_rows(stream, cols)


def test_batch_stream_parity_session_window(spark, sf_dir):
    """Session windows through the stream equal the batch run, SESSION
    START VALUES included. Round-4 lesson: the session twin stayed green
    while the streaming timeline was collapsed 1000x because nothing
    compared ts-bearing output — this does, by construction."""
    batch = STRM.session_agg(t(spark, sf_dir, "events"), "1 hour")
    stream = STRM.run_streaming_over_parquet(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda s: STRM.session_agg(s, "1 hour"),
    )
    cols = ["session_start", "user_id", "n_events"]
    assert _sorted_rows(batch, cols) == _sorted_rows(stream, cols)


def test_session_window_merges_gaps(spark):
    """Events < gap apart merge into one session; a > gap break splits."""
    rows = [
        (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 00:30:00", 7, "click", 1.0, "{}"),  # same session
        (3, "2024-01-01 03:00:00", 7, "click", 1.0, "{}"),  # new session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id", "event_type", "value", "props")
    out = STRM.session_agg(df, "1 hour").collect()
    assert len(out) == 2
    by_start = {r["session_start"]: r["n_events"] for r in out}
    assert by_start["2024-01-01 00:00:00"] == 2
    assert by_start["2024-01-01 03:00:00"] == 1


def test_stateful_tws_runs_or_gates_cleanly(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 arbitrary-stateful API): on a
    protobuf-equipped environment the per-user (count, sum) must equal
    the batch groupBy; in this container (no google.protobuf) the
    operator must fail fast with the documented gate, not crash the
    streaming runtime mid-query."""
    import pytest

    try:
        import google.protobuf.descriptor  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False

    path = os.path.join(sf_dir, "events.parquet")
    if not have_protobuf:
        with pytest.raises(NotImplementedError, match="protobuf"):
            STRM.stateful_user_stats_tws(spark, path)
        return
    from pyspark.sql import functions as F

    out = STRM.stateful_user_stats_tws(spark, path)
    batch = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _sorted_rows(out, cols) == _sorted_rows(batch, cols)


def test_stream_dedup_watermark_counts(spark, sf_dir):
    """Stateful dedup on event_id: counts equal the batch distinct counts
    (testdata event_ids are unique, so dedup is a no-op — the point is the
    stateful operator runs and agrees with batch)."""
    stream_out = STRM.dedup_within_watermark(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    batch = (
        t(spark, sf_dir, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .count()
    )
    got = {(r["event_type"], r["n"]) for r in stream_out.collect()}
    want = {(r["event_type"], r["count"]) for r in batch.collect()}
    assert got == want


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """The watermark's actual job: in APPEND mode, an event arriving
    after the watermark has passed its window is DROPPED, not merged.

    Four micro-batches (maxFilesPerTrigger=1, single-file parquet so the
    file source sees them — Spark write output is a DIRECTORY, which the
    streaming source does not recurse into): 09:00 event → 12:00 event →
    12:30 event → 09:00:01 straggler. Spark applies a freshly-advanced
    watermark with one batch of lag (measured on 4.1: a straggler in the
    very next batch after the advancing event still merges), so the
    12:30 batch exists to let the 11:50 watermark take effect before the
    straggler arrives. The 09:00 window must close with n=1."""
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "late_src"
    src.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))
        time.sleep(1.1)  # file-source ordering follows modification time

    write("b0.parquet", [(1, "2024-01-01 09:00:00", "a", 1.0)])
    write("b1.parquet", [(2, "2024-01-01 12:00:00", "a", 1.0)])
    write("b2.parquet", [(3, "2024-01-01 12:30:00", "a", 1.0)])
    write("b3.parquet", [(4, "2024-01-01 09:00:01", "a", 1.0)])

    agg = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["ws"], r["n"]) for r in spark.table("late_drop_test").collect()}
    # The 09:00 window closed with ONLY the on-time event; the straggler
    # was dropped. The 12:00/12:30 windows never finalize (watermark
    # stops at 12:20 when the source dries up), so nothing else appears.
    assert rows == {("09:00", 1)}, rows


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Restartability: a file-sink stream with a checkpoint, stopped and
    restarted after new data arrives, processes ONLY the new files — no
    reprocessing, no duplicates. This is the exactly-once contract that
    makes a streaming ingest safe to crash anywhere."""
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "ck_src"
    out = str(tmp_path / "ck_out")
    ck = str(tmp_path / "ck_state")
    src.mkdir()

    def write(name, ids):
        pdf = pd.DataFrame({"event_id": pd.Series(ids, dtype="int64")})
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))
        time.sleep(1.1)

    def run_once():
        q = (
            spark.readStream.schema("event_id long")
            .parquet(str(src))
            .withColumn("doubled", F.col("event_id") * 2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("a.parquet", [1, 2, 3])
    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]

    write("b.parquet", [4, 5])
    run_once()  # restart from the SAME checkpoint
    rows = sorted(
        (r["event_id"], r["doubled"]) for r in spark.read.parquet(out).collect()
    )
    # 1-3 appear exactly once (not reprocessed), 4-5 appended once.
    assert rows == [(1, 2), (2, 4), (3, 6), (4, 8), (5, 10)], rows


def test_stream_left_outer_join_emits_null_on_watermark(spark, tmp_path):
    """Left-outer stream-stream join: a purchase with no click in its
    30-minute band is emitted with a NULL click_id — but only after the
    watermark passes the point where a matching click could still
    arrive. Later batches exist solely to advance the watermark (same
    one-batch application lag as the late-drop test)."""
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "loj_src"
    src.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))
        time.sleep(1.1)

    # P1 has no click; P2 has C1 ten seconds before it.
    write("b0.parquet", [(1, "2024-01-01 09:00:00", 1, "purchase")])
    write("b1.parquet", [(2, "2024-01-01 10:00:00", 2, "click"),
                         (3, "2024-01-01 10:00:10", 2, "purchase")])
    write("b2.parquet", [(4, "2024-01-01 13:00:00", 9, "click")])
    write("b3.parquet", [(5, "2024-01-01 14:00:00", 9, "click")])
    write("b4.parquet", [(6, "2024-01-01 15:00:00", 9, "click")])

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def read():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    purchases = read().filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "10 minutes"
    )
    clicks = read().filter(F.col("event_type") == "click").withWatermark(
        "ts", "10 minutes"
    )
    from cirro_annotation_spark.streaming.events import purchase_click_pairs

    joined = purchase_click_pairs(purchases, clicks, how="left_outer")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("loj_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["purchase_id"], r["click_id"], r["user_id"])
        for r in spark.table("loj_test").collect()
    }
    assert (3, 2, 2) in rows, rows          # matched pair emitted
    assert (1, None, 1) in rows, rows       # unmatched purchase → NULL row
    assert len(rows) == 2, rows


def test_streaming_drain_drops_memory_sink_view(spark, sf_dir):
    """The memory sink's temp view must not outlive the drain — one
    leaked full result set per streaming query invocation on a
    long-lived session (code-review r15)."""
    import os

    from cirro_annotation_spark.streaming import events as STRM

    before = {t.name for t in spark.catalog.listTables()}
    out = STRM.dedup_within_watermark(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    assert out.count() > 0  # checkpointed result survives the drop
    after = {t.name for t in spark.catalog.listTables()}
    assert not {n for n in after - before if n.startswith("stream_")}


def test_state_partition_derivation_scales_with_source():
    """VERDICT r15 item 3: the bounded-drain state-partition default
    derives from source size — fixture-sized sources keep the measured
    optimum (4), big sources scale up to the core cap, and a missing
    size falls back to the fixture default rather than a 100 TB
    footgun."""
    d = STRM.derive_state_partitions
    assert d(None, 32) == 4                    # unknown size: safe default
    assert d(2 * 1024 * 1024, 32) == 4         # sf0.1 events: unchanged
    assert d(10 * (64 << 20), 32) == 11        # 640 MB: 1 + 10 partitions
    assert d(100 * (1 << 40), 32) == 32        # 100 TB: capped at cores
    assert d(100 * (1 << 40), 4096) == 4096    # bigger cluster, bigger cap


def test_state_partitions_size_a_parquet_directory_by_its_files(
    spark, tmp_path, monkeypatch
):
    """A Parquet source is a directory: its size is the sum of the files
    under it, not the directory inode's, so a 640 MB source derives
    1 + 10 state partitions instead of the floor."""
    import cirro_annotation_spark.session as session

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    monkeypatch.setattr(session, "default_parallelism", lambda: 32)
    src = tmp_path / "events.parquet"
    (src / "ts_day=1").mkdir(parents=True)
    for i in range(10):
        part = src / ("ts_day=1" if i % 2 else ".") / f"part-{i}.parquet"
        with open(part, "wb") as f:
            f.truncate(64 << 20)  # sparse: the size without the bytes
    assert STRM._drain_state_partitions(spark, str(src)) == "11"
