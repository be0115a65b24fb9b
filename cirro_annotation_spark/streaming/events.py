"""Streaming operators over the events table (SURVEY.md §2.10 — the
reference has no streaming; this is the north-star Structured Streaming
coverage).

Each operator has a BATCH twin expressed with the same groupBy(window(...))
core, so the DuckDB oracle can verify the semantics; the STREAM variant
runs the identical aggregation through readStream → memory sink with an
availableNow-style synchronous drain.

Scale: windowed aggregations with watermarks are Spark's bread-and-butter
stateful op — state is keyed by (window, group), partial aggregation is
map-side, and the watermark bounds state size. Session windows use the
built-in session_window merge.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Streaming file sources require an explicit schema (no inference), so the
# ts declaration must match the file's PHYSICAL storage — which the driver's
# testdata has changed across regenerations (nanos in round 3, micros in
# round 4). _read_events_stream peeks the parquet footer and picks the
# matching (schema, normalization) pair; a hardcoded nanos assumption here
# silently collapsed the round-4 timeline 1000x.
_EVENTS_COLS = "event_id long, {ts}, user_id long, event_type string, value double, props string"
EVENTS_SCHEMA_NANOS = _EVENTS_COLS.format(ts="ts long")
EVENTS_SCHEMA_TIMESTAMP = _EVENTS_COLS.format(ts="ts timestamp")


def _read_events_stream(spark: SparkSession, parquet_path: str) -> DataFrame:
    """readStream over one events parquet file.

    Structured Streaming's file source requires a *directory* — so we load
    the parent dir with pathGlobFilter pinned to the file's basename. In
    production this line is a directory of arriving files (or Kafka); the
    dataflow downstream is identical.

    tune_existing pins the UTC session timezone first, so a micros file
    with isAdjustedToUTC=false reads into TIMESTAMP with values identical
    to the batch path (and to the DuckDB oracle).
    """
    from cirro_annotation_spark.session import parquet_ts_unit, tune_existing

    tune_existing(spark)
    nanos = parquet_ts_unit(parquet_path) == "ns"
    if not nanos:
        return (
            spark.readStream.schema(EVENTS_SCHEMA_TIMESTAMP)
            .option("pathGlobFilter", os.path.basename(parquet_path))
            .parquet(os.path.dirname(parquet_path))
        )
    # Vectorized reader rejects TIMESTAMP(NANOS); read as long and
    # truncate to micros exactly like DuckDB/pandas do. The legacy conf
    # is save/restored around the source build — the same contract
    # catalog.read_table keeps for batch (a LATER raw nanos read on this
    # session must error loudly, not silently arrive as bigint); the
    # explicit bigint schema means triggers never re-infer, so the
    # restore is safe before the drain runs (pinned by the ns-flavor
    # parity tests in test_testdata_canary.py) (code-review r15).
    from cirro_annotation_spark.session import nanos_as_long

    with nanos_as_long(spark):
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA_NANOS)
            .option("pathGlobFilter", os.path.basename(parquet_path))
            .parquet(os.path.dirname(parquet_path))
        )
    return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type (batch & stream safe)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_agg(events: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Session windows per user: gap-merged activity bursts."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def derive_state_partitions(source_bytes: int | None, cores: int) -> int:
    """Scale-adaptive state-store partition count for a streaming drain
    (VERDICT r15 item 3 — the previous constant-4 default was right for
    fixture-scale drains but a 100 TB deployment that forgot the env
    override would run 4 state stores for the whole stream).

    One state partition per ~64 MB of source, floored at 4 (the r15
    measured optimum for small bounded drains — fewer partitions starve
    multi-batch parallelism on the non-TTL drains, re-measured r16) and
    capped at the core count (state stores beyond cores only add commit
    cycles per trigger). On a real cluster ``cores`` follows
    SPARK_GRAFT_CPUS / the deployment's executor budget, so the cap
    grows with the hardware exactly like shuffle partitions do.
    """
    if source_bytes is None:
        return 4
    return max(4, min(cores, 1 + source_bytes // (64 << 20)))


def _drain_state_partitions(
    spark: SparkSession, source_path: str | None = None
) -> str | None:
    """Shuffle/state-store partition count to pin for a bounded drain,
    or None to leave the session value alone.

    Every stateful streaming operator keeps one state-store instance
    per shuffle partition and COMMITS each of them every micro-batch
    (AQE never coalesces streaming shuffles), so a bounded drain over a
    fixture-sized source at the batch default (32) pays 32 state-store
    commit cycles per operator per trigger for a handful of keys —
    measured at sf0.1: stream_join_stream 7.6 → 2.7 s, dedup_watermark
    3.2 → 1.2 s, histogram 3.4 → 1.5 s under 4 partitions (optimization
    r15, guide §2.2 fewer/larger partitions). The default now DERIVES
    from the source size (derive_state_partitions: ~64 MB of source per
    state partition, floor 4, cap cores) instead of a constant, so an
    unbounded deployment that forgets the knob still scales;
    SPARK_GRAFT_STREAM_STATE_PARTITIONS overrides without a code
    change. The determinism harness's ``spark.cirro.tuneLayout=false``
    sentinel disables the pin so its divergent-layout sessions keep
    proving results are partition-count-independent.
    """
    try:
        if spark.conf.get("spark.cirro.tuneLayout", "true") == "false":
            return None
    except Exception:
        pass
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env is not None:
        return env
    from cirro_annotation_spark.session import default_parallelism

    size = None
    if source_path is not None:
        try:
            # A Parquet source is a directory: sum the files under it (a
            # directory's own size is its inode's); a file walks empty.
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(source_path)
                for f in files
            ) or os.path.getsize(source_path)
        except OSError:
            size = None
    return str(derive_state_partitions(size, default_parallelism()))


def _drain(
    spark: SparkSession,
    sdf: DataFrame,
    mode: str,
    prefix: str,
    pin_state_partitions: bool = True,
    source_path: str | None = None,
) -> DataFrame:
    """Run a bounded streaming frame to completion through a memory sink
    and return the materialized result — the one drain implementation
    every operator in this module shares (code-review r15: the block was
    copy-pasted 8x, and none of the copies dropped its sink view).

    ``pin_state_partitions=False`` opts a drain out of the state-
    partition pin (see _drain_state_partitions): the Python-stateful
    operator (applyInPandasWithState) is compute-bound in its Python
    workers and WANTS the parallelism (stream_stateful_counts measured
    1.6 → 2.4 s under the pin — kept at the session default
    deliberately).

    The memory sink's temp view is dropped AFTER the eager
    localCheckpoint (the checkpointed partitions no longer reference the
    sink), so repeated invocations on one long-lived session — a 350-
    query sweep, bench rounds — do not accumulate full result sets in
    driver memory."""
    name = prefix + uuid.uuid4().hex[:8]
    pin = (
        _drain_state_partitions(spark, source_path)
        if pin_state_partitions
        else None
    )
    prev = None
    if pin is not None:
        try:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            # Read at query START and pinned into the run's checkpoint,
            # so restoring right after the drain is safe (the TTL-expiry
            # drain established the save/restore contract).
            spark.conf.set("spark.sql.shuffle.partitions", pin)
        except Exception:
            prev = None
    try:
        q = (
            sdf.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is not None:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            except Exception:
                pass
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def run_streaming_over_parquet(
    spark: SparkSession,
    parquet_path: str,
    transform,
    watermark: str = "1 day",
) -> DataFrame:
    """Drive a streaming aggregation over a bounded parquet source and
    return the complete result as a batch DataFrame.

    readStream(parquet) → withWatermark → transform → memory sink
    (complete mode) → processAllAvailable. In production the source line
    changes to Kafka and the sink to a real table; the aggregation
    dataflow — the part this engine owns — is identical.
    """
    stream = _read_events_stream(spark, parquet_path).withWatermark("ts", watermark)
    return _drain(
        spark, transform(stream), "complete", "stream_out_",
        source_path=parquet_path,
    )


def stateful_user_counts(spark: SparkSession, parquet_path: str) -> DataFrame:
    """CUSTOM stateful operator via applyInPandasWithState: a per-user
    running event counter held in explicit GroupState — the escape hatch
    for stateful logic Spark's built-in operators can't express
    (SURVEY.md §2.10's 'custom stateful operators' slot).

    State is one long per user (bounded); batches arrive Arrow-encoded per
    group; each trigger emits the updated total. Over a bounded source in
    one micro-batch this equals the batch groupBy count — which is exactly
    what the oracle checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = (
        _read_events_stream(spark, parquet_path)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain(
        spark, stream, "update", "stream_state_",
        pin_state_partitions=False,  # Python-stateful: wants parallelism
    )


def purchase_click_pairs(
    purchases: DataFrame, clicks: DataFrame, how: str = "inner"
) -> DataFrame:
    """Join purchases to the same user's clicks in the preceding 30 min.

    Works identically on batch frames and on streams: the equi-key
    (user_id) plus an EVENT-TIME interval condition is exactly the shape
    Structured Streaming's stream-stream join requires — the time bound
    is what lets the engine expire join state once the watermark passes
    (unbounded-history joins are not runnable on unbounded streams).

    ``how="left_outer"`` keeps unmatched purchases (click_id NULL) — the
    attribution question "which purchases had no preceding click". On
    streams, outer rows are emitted only when the watermark passes the
    join bound (the engine must be SURE no match can still arrive), so
    purchases near the head of the stream stay in state until later
    data advances the watermark — tests/test_streaming.py pins that
    emission behavior on a controlled timeline.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            how,
        )
        .select("purchase_id", "click_id", "user_id")
    )


def stream_stream_join(spark: SparkSession, parquet_path: str) -> DataFrame:
    """Stream-stream inner join: two readStreams over the same arrival
    line (filtered to purchases / clicks), both watermarked, joined on
    user_id + a 30-minute event-time band.

    State story at scale: each side buffers rows only until the other
    side's watermark passes the interval bound — state is O(events in the
    band), not O(stream). Append mode emits each matched pair exactly
    once. This is the canonical enrichment-join (clicks→purchases,
    impressions→conversions) Structured Streaming was built for.
    """
    src = _read_events_stream(spark, parquet_path)
    purchases = src.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    clicks = _read_events_stream(spark, parquet_path).filter(
        F.col("event_type") == "click"
    ).withWatermark("ts", "2 hours")
    joined = purchase_click_pairs(purchases, clicks)
    return _drain(
        spark, joined, "append", "stream_join_", source_path=parquet_path
    )


def dedup_within_watermark(spark: SparkSession, parquet_path: str) -> DataFrame:
    """Streaming stateful dedup: dropDuplicatesWithinWatermark on event_id.

    State holds one entry per key only until the watermark passes it —
    bounded state on an unbounded stream.
    """
    stream = (
        _read_events_stream(spark, parquet_path)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _drain(
        spark, stream, "complete", "stream_dedup_", source_path=parquet_path
    )


def bloom_dedup_stream(
    spark: SparkSession,
    parquet_path: str,
    m_bits_per_bucket: int = 1 << 16,
    n_buckets: int = 32,
    n_hashes: int = 3,
) -> DataFrame:
    """Streaming dedup with BOUNDED state: a per-bucket Bloom bitmap in
    GroupState instead of the exact per-key set dropDuplicates keeps.

    dropDuplicates-within-watermark (dedup_within_watermark above) holds
    one state row PER KEY — exact, but state grows with key cardinality
    and only a watermark bounds it. This operator's state is
    n_buckets × m/8 bytes FOREVER (here 32 × 8 KiB = 256 KiB total),
    whatever the cardinality — the production shape for "have I seen
    this document hash" over an unbounded crawl. The trade is
    approximation: no duplicate ever passes (a seen key's bits are all
    set — no false negatives), but ~(nk/m)^k unique keys per bucket are
    wrongly dropped. Rows route to buckets by key-hash, so each
    bucket's bloom sees n/n_buckets keys and buckets scale horizontally
    exactly like any keyed state.

    Emits the first-seen rows (event_id, user_id, event_type). The
    probabilistic interior makes this rows-only at the oracle gate
    (like the MinHash banding interiors); tests/test_streaming_bloom.py
    pins the no-duplicate-passes guarantee and measured unique
    survival.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    m = m_bits_per_bucket
    k = n_hashes
    # Ceil, not floor: bit positions range over [0, m), so a non-
    # multiple-of-64 m with floor division would index past the word
    # array inside the state fn (worker IndexError — code-review r15).
    n_words = (m + 63) >> 6

    def fn(key, pdfs, state: GroupState):
        words = list(state.get[0]) if state.exists else [0] * n_words
        out_ids, out_users, out_types = [], [], []
        for pdf in pdfs:
            for eid, uid, etype, h in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["__h"]
            ):
                seen = True
                # k positions derived from one 64-bit hash (Kirsch-
                # Mitzenmacher double hashing: h1 + i*h2 mod m)
                h1 = h & 0xFFFFFFFF
                h2 = (h >> 32) | 1
                pos = [(h1 + i * h2) % m for i in range(k)]
                for p in pos:
                    if not (words[p >> 6] >> (p & 63)) & 1:
                        seen = False
                        break
                if not seen:
                    for p in pos:
                        # keep the Python int in signed-64 range for the
                        # Arrow long[] state column
                        w = words[p >> 6] | (1 << (p & 63))
                        words[p >> 6] = w - (1 << 64) if w >= 1 << 63 else w
                    out_ids.append(eid)
                    out_users.append(uid)
                    out_types.append(etype)
        state.update((words,))
        if out_ids:
            yield pd.DataFrame(
                {"event_id": out_ids, "user_id": out_users, "event_type": out_types}
            )

    src = _read_events_stream(spark, parquet_path)
    # dedup key: the event's content identity (event_id in the fixture);
    # the 64-bit hash and the bucket id are computed ENGINE-side
    # (codegen) so the Python worker only does bit tests.
    keyed = src.select(
        "event_id",
        "user_id",
        "event_type",
        F.xxhash64("event_id").alias("__h"),
        F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(n_buckets)).alias("__bucket"),
    )
    stream = keyed.groupBy("__bucket").applyInPandasWithState(
        fn,
        outputStructType="event_id long, user_id long, event_type string",
        stateStructType=f"words array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(
        spark, stream, "update", "stream_bloom_", source_path=parquet_path
    )


def windowed_distinct_users(spark: SparkSession, parquet_path: str) -> DataFrame:
    """EXACT distinct users per hour window on a stream.

    COUNT(DISTINCT x) is unsupported in streaming aggregations (and
    approx_count_distinct trades exactness); the production-exact form
    chains two stateful operators — dropDuplicatesWithinWatermark on
    (user_id, hour_bucket) reduces the stream to one row per user per
    window, then an ordinary windowed count is the distinct count.
    State per operator stays bounded by the watermark horizon. Spark
    supports this stateful-op chaining natively (4.x); the memory-sink
    drain mirrors the other streaming twins.

    Late-data contract (round-6 advice): counts are exact only for rows
    arriving WITHIN the 1-day watermark horizon of their hour. In a
    genuine multi-batch stream, a (user, hour) row arriving after the
    watermark has passed its hour is dropped by
    dropDuplicatesWithinWatermark before the complete-mode aggregation
    ever sees it, silently undercounting that window — the inherent
    exactness/state-bound trade of any watermarked streaming distinct.
    Widen the watermark if the source can be later than a day; the
    single-batch replay harness never exercises the drop path, so this
    caveat is the production-behavior boundary, not a harness gap.
    """
    stream = (
        _read_events_stream(spark, parquet_path)
        .withWatermark("ts", "1 day")
        .withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
        .dropDuplicatesWithinWatermark(["user_id", "hour_bucket"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_users",
        )
    )
    return _drain(
        spark, stream, "complete", "stream_out_", source_path=parquet_path
    )


def dedup_ttl_expiry_stream(
    spark: SparkSession, parquet_path: str, n_msgs: int = 120
) -> DataFrame:
    """State-TTL EVICTION semantics, proven through a real multi-batch
    drain (VERDICT r10 item 7c): dropDuplicatesWithinWatermark keeps a
    key's state only until the watermark passes its event time + delay,
    so a duplicate arriving INSIDE the delay is suppressed while the
    same key replayed AFTER the watermark expired its state is emitted
    again. Aggregate parity is the proof: every message is emitted
    exactly twice (original + post-expiry replay), never once (state
    immortal) or three times (no dedup at all).

    Replay fixture, derived identically in the DuckDB oracle: the first
    ``n_msgs`` event_ids on a synthetic compact timeline — original at
    t0 + 2i min, early duplicate at +20 min (< the 1 h delay →
    dropped), late replay at +240 min (≫ delay → state long evicted →
    re-emitted). Arrivals are written as one parquet file per 30-min
    bucket with strictly increasing mtimes and drained with
    maxFilesPerTrigger=1, so the watermark advances batch-by-batch in
    event-time order exactly as a live source would — ~21 real
    micro-batches, state created, expired, and re-created under the
    RocksDB-shaped lifecycle.

    TIMING DERIVATION (traced against Spark 4.1's
    StreamingDeduplicateWithinWatermarkExec on this exact fixture):
    a key's state expiry is FIRST-emission ts + delay — suppressed
    duplicates do NOT extend it — and eviction runs at the END of each
    micro-batch using that batch's watermark, which itself lags one
    batch (wm(N) = maxEvent(N-1) - delay). A replay in bucket B is
    therefore re-emitted only if its state was evicted by the end of
    batch B-1, i.e. orig_ts + delay <= maxEvent(B-2) - delay. With
    arrivals dense every 2 min, bucket width W and replay offset 240,
    the worst case needs 2W + 2*delay + 2 < 240 -> W <= 58 min. W=45
    leaves a 28-min margin; W=90 (first attempt) provably suppresses a
    tail of every bucket — the driver-visible 265-of-400 failure that
    forced this derivation.

    Scale: state is one entry per in-flight key bounded by the delay
    window (the whole point of TTL); the fixture derivation is a
    filter + 3-way union, one staged partitionBy write, no shuffle
    until the final count. Micro-batch count and state partitions are
    kept small (~12 × 4) — the semantics need several watermark
    advances, not task volume.
    """
    import shutil
    import tempfile
    import time as _time

    from cirro_annotation_spark.session import tune_existing

    tune_existing(spark)
    width_min = 45  # see TIMING DERIVATION: must be <= 58
    # Explicit schema, never inference: the fixture only needs two
    # columns, and schema inference would convert the FULL footer —
    # crashing on a TIMESTAMP(NANOS)-era ts column this function never
    # touches (the repo-wide "no raw events reads" rule; code-review
    # r15). The clipped schema keeps the scan two columns wide too.
    ev = spark.read.schema("event_id long, event_type string").parquet(
        parquet_path
    ).filter(F.col("event_id") < n_msgs)
    arrivals = None
    for off in ("2*event_id", "2*event_id + 20", "2*event_id + 240"):
        part = ev.select(
            F.expr(
                f"timestampadd(MINUTE, cast({off} as int), "
                "timestamp'2026-01-01 00:00:00')"
            ).alias("ts"),
            "event_id",
            "event_type",
            F.expr(f"cast(({off}) div {width_min} as int)").alias("bucket"),
        )
        arrivals = part if arrivals is None else arrivals.unionByName(part)

    stage = tempfile.mkdtemp(prefix="ttl_stream_")
    # ADVICE r11: the whole drain runs under try/finally so the staging
    # dir (batch-*.parquet files included, not just the staged/ subdir)
    # is removed even on failure — the eager localCheckpoint at the end
    # materializes the result before the source files disappear.
    try:
        staged = os.path.join(stage, "staged")
        arrivals.repartition("bucket").write.partitionBy("bucket").parquet(
            staged
        )
        n_buckets = (2 * (n_msgs - 1) + 240) // width_min + 1
        base_mtime = _time.time() - n_buckets - 10
        for b in range(n_buckets):
            sub = os.path.join(staged, f"bucket={b}")
            if not os.path.isdir(sub):
                continue
            parts = sorted(
                f for f in os.listdir(sub) if f.endswith(".parquet")
            )
            for i, name in enumerate(parts):
                dst = os.path.join(stage, f"batch-{b:04d}-{i:02d}.parquet")
                os.rename(os.path.join(sub, name), dst)
                os.utime(dst, (base_mtime + b, base_mtime + b))
        shutil.rmtree(staged)

        # ONE state partition: this drain's cost is ~12 SEQUENTIAL
        # micro-batches (the TTL semantics under test), each committing
        # every state store of the dedup AND the complete-mode agg —
        # per-trigger commit count is what matters, not task
        # parallelism over ~40 rows/batch. Measured at sf0.1
        # (optimization r16, interleaved min-of-3): 1 part 6.9 s,
        # 2 parts 7.4 s, 4 parts 10.9 s. The fixture is bounded at
        # n_msgs keys by construction, so the scale-adaptive derivation
        # the other drains use does not apply. (The conf is pinned into
        # the query's checkpoint at start, so restoring right after the
        # drain does not affect the completed run.)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            stream = (
                spark.readStream.schema(
                    "ts timestamp, event_id long, event_type string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(stage)
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["event_id"])
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_emitted"))
            )
            return _drain(spark, stream, "complete", "stream_ttl_")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
