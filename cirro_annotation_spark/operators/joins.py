"""Join operators beyond plain equi-joins: as-of and range joins.

The reference has no data-plane joins (SURVEY.md §2.4) — its dict
lookups are broadcast hash joins, covered in suites/relational.py. These
are the north-star temporal joins the ``events`` table exercises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hashable(dt: T.DataType) -> bool:
    """Whether xxhash64 accepts this type: MAP is rejected anywhere in
    the type tree (Spark DATATYPE_MISMATCH.HASH_MAP_TYPE)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_key: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    suffix: str = "_asof",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row (right_ts <=
    left_ts) within the same partition_key.

    Scale design: the naive formulation is a correlated subquery / non-equi
    self-join — O(n·m) per key. Instead we UNION both sides, sort within
    each key once, and carry the latest right values forward with
    ``last(..., ignorenulls=True)`` over an unbounded-preceding window.
    Cost: ONE shuffle on partition_key + one sort per partition — the same
    cost as a single sort-merge join, regardless of how many right rows
    precede each left row. Skewed keys are handled by AQE skew splitting
    on the shuffle.

    Tie rule: a right row with right_ts == left_ts IS visible to that left
    row (inclusive as-of), enforced by sorting right-before-left on ts ties.

    ``tolerance_seconds`` (pandas merge_asof parity): when set, a match
    older than the tolerance is nulled out — the carried right timestamp
    rides along in the same window pass, so the bound costs zero extra
    shuffles.

    ROW semantics, not per-column: the right side is carried as ONE
    struct, so every emitted value (and the tolerance timestamp) comes
    from the SAME most-recent right row — a right row with a NULL value
    yields NULL, it does not fall through to an older row's value (the
    per-column last(ignorenulls) formulation had exactly that bug).
    """
    lcols = left.columns
    tagged_left = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    pack = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c + suffix) for c in right_value_cols],
    )
    tagged_right = right.select(
        F.col(partition_key),
        F.col(right_ts).alias("__ts"),
        pack.alias("__right"),
    ).withColumn("__is_left", F.lit(0))
    unioned = tagged_left.unionByName(tagged_right, allowMissingColumns=True)
    # Third sort key: (ts, is_left) is not a total order when the right
    # side holds duplicate (key, ts) rows — last() would then pick a
    # partition-internals-dependent row (code-review r15). xxhash64 over
    # the HASHABLE right value columns (xxhash64 rejects MAP anywhere in
    # the type tree) makes the pick deterministic — max hash wins; left
    # rows hash constant NULLs and keep their position among equal-ts
    # lefts. If every value column is map-typed the tie-break degrades
    # to a constant (duplicate-(key, ts) picks are then undefined among
    # rows differing only in maps — documented, not silent: maps aren't
    # orderable or hashable, so no engine-neutral total order exists).
    hashable_vals = [
        F.col(f"__right.{c + suffix}")
        for c in right_value_cols
        if _hashable(right.schema[c].dataType)
    ]
    tie = (
        F.xxhash64(F.col("__right.__rts"), *hashable_vals)
        if hashable_vals
        else F.lit(0)
    )
    w = (
        Window.partitionBy(partition_key)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc(), tie.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last("__right", ignorenulls=True).over(w)
    out = unioned.select(
        *lcols, F.col("__is_left"), F.col("__ts"), matched.alias("__m")
    ).filter(F.col("__is_left") == 1)
    keep = F.lit(True)
    if tolerance_seconds is not None:
        keep = (
            F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__m.__rts"))
            <= int(tolerance_seconds * 1_000_000)
        )
    return out.select(
        *lcols,
        *[
            F.when(keep, F.col(f"__m.{c + suffix}")).alias(c + suffix)
            for c in right_value_cols
        ],
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: the manual fallback when AQE's runtime
    skew-split can't apply (e.g. the skewed side feeds an aggregation
    that pins partitioning, or a non-AQE deployment).

    The skewed side gets a random salt in [0, salt_buckets); the small
    side is replicated salt_buckets× (explode over the salt range). The
    join key becomes (key, salt), so one hot key's rows spread across
    salt_buckets reducers instead of one straggler task. Replication
    cost: |small| × salt_buckets rows — use only when `small` is modest
    (dimension-sized) but too big or mid-plan for a plain broadcast.

    rand(seed) is fine here: salt values only need to spread rows, not
    reproduce across runs — results are salt-invariant.

    Only left-preserving join types are allowed: under 'right'/'full'
    the salt-replicated small side would emit each UNMATCHED small-side
    row salt_buckets times (matched rows join exactly once, unmatched
    replicas all survive an outer join).
    """
    safe = {"inner", "left", "left_outer", "leftouter", "left_semi",
            "leftsemi", "left_anti", "leftanti"}
    if how.lower().replace("_", "") not in {s.replace("_", "") for s in safe}:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the replicated small "
            f"side duplicates unmatched rows under right/full outer joins; "
            f"use one of {sorted(safe)}"
        )
    salted_big = skewed.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(replicated, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width_expr: str,
) -> DataFrame:
    """Generic interval-overlap join, bucketized so it equi-joins at scale.

    Both sides explode their interval into coarse buckets
    (floor(ts / width)); the join becomes equi on (key, bucket) + an exact
    overlap filter, then dedups. Turns an O(n·m) cross into a shuffle
    hash-join whose fan-out is bounded by interval/width.
    """
    def bucketize(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    (F.col(s).cast("long") / F.expr(bucket_width_expr)).cast("long"),
                    (F.col(e).cast("long") / F.expr(bucket_width_expr)).cast("long"),
                )
            ),
        )

    lb = bucketize(left, left_start, left_end)
    rb = bucketize(right, right_start, right_end)
    overlap = (F.col(left_start) <= F.col(right_end)) & (
        F.col(right_start) <= F.col(left_end)
    )
    return (
        lb.join(rb, on=[key, "__bucket"], how="inner")
        .filter(overlap)
        .drop("__bucket")
        .dropDuplicates()
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    partition_key: str,
    left_ts: str,
    right_ts: str,
    suffix: str = "_nearest",
) -> DataFrame:
    """For each left row, attach the CLOSEST right timestamp in either
    direction (pandas ``merge_asof(direction='nearest')`` parity).

    Tie rule: equal distance prefers the PAST match; a right row at
    exactly left_ts counts as past with distance zero. Emits
    ``ts<suffix>`` (the chosen right timestamp, null when the key has no
    right rows at all) and ``direction<suffix>`` ('past' / 'future' /
    null).

    Scale design: same union-once discipline as ``asof_join`` — both the
    backward carry (last right at-or-before, unbounded-preceding frame)
    and the forward carry (first right strictly-after,
    unbounded-following frame) run over the SAME partitioning and sort
    order, so the plan has ONE exchange + one sort feeding a single
    WindowExec with two frames. The naive nearest formulation is two
    correlated non-equi subqueries per row.
    """
    lcols = left.columns
    tagged_left = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    tagged_right = right.select(
        F.col(partition_key),
        F.col(right_ts).alias("__ts"),
        F.col(right_ts).alias("__rts"),
    ).withColumn("__is_left", F.lit(0))
    unioned = tagged_left.unionByName(tagged_right, allowMissingColumns=True)
    # Right rows sort BEFORE left rows on ts ties: inclusive backward
    # visibility, and the forward frame (which starts at the current
    # row) then sees strictly-future rights only.
    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    w_back = (
        Window.partitionBy(partition_key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(partition_key)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    past = F.last("__rts", ignorenulls=True).over(w_back)
    future = F.first("__rts", ignorenulls=True).over(w_fwd)
    d_past = F.unix_micros(F.col("__ts")) - F.unix_micros(past)
    d_future = F.unix_micros(future) - F.unix_micros(F.col("__ts"))
    pick_past = past.isNotNull() & (future.isNull() | (d_past <= d_future))
    nearest = F.when(pick_past, past).otherwise(future)
    direction = F.when(pick_past, F.lit("past")).when(
        future.isNotNull(), F.lit("future")
    )
    return (
        unioned.select(
            *lcols,
            F.col("__is_left"),
            nearest.alias("ts" + suffix),
            direction.alias("direction" + suffix),
        )
        .filter(F.col("__is_left") == 1)
        .drop("__is_left")
    )
