"""Multi-dimensional data layout (Z-order clustering) for write-side
file skipping.

Reference analogue: none (beyond-reference, SURVEY.md §2.12) — this is
the Delta Lake ``OPTIMIZE ... ZORDER BY`` / Iceberg sort-order shape,
re-expressed with open Spark primitives.

Why it matters at 100 TB: parquet readers prune files and row groups by
min/max column statistics. A table range-partitioned and sorted on ONE
key has tight stats on that key only; predicates on a second column
scan everything. Interleaving the bits of several quantized columns
into one Z-value and range-partitioning + sorting on it gives every
participating column locally-narrow value ranges per file, so a
predicate on ANY of them skips most of the data. The quantile cut
points are driver-side model state (k·2^bits doubles — same class as
the IVF centroids), NOT a per-row collect; the data itself is laid out
with one range-exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket_expr_from_cuts(
    col: str, cuts: list[float], n: int
) -> tuple[list[float], F.Column]:
    """(cut_points, bucket_expr): maps ``col`` to an integer bucket in
    [0, n] by precomputed quantile cuts (write_zordered's one-pass
    multi-column quantile job), so the Z-curve is resistant to skew
    (equal-POPULATION cells, not equal-width)."""
    # Strictly increasing cuts only (repeated quantiles on low-cardinality
    # columns collapse); bucket = count of cuts <= value, one codegen'd
    # expression, no join.
    uniq: list[float] = []
    for c in cuts:
        if not uniq or c > uniq[-1]:
            uniq.append(c)
    expr = F.lit(0)
    for c in uniq:
        expr = expr + F.when(F.col(col) >= F.lit(c), 1).otherwise(0)
    # Spread the buckets across the FULL [0, 2^bits) range: a
    # low-cardinality column (15 users -> 16 buckets) would otherwise
    # occupy only the LOW bits of its lane and become a minor sort key
    # the curve never prunes on. Scaling keeps every column's lane
    # populated at the high-order bit positions, which is what makes
    # the interleave fair between columns of different cardinality.
    if uniq and len(uniq) < n:
        expr = F.floor(expr * F.lit(n) / F.lit(len(uniq)))
    return uniq, expr.cast("long")


def interleave_bits(cols: list[F.Column], bits: int = 8) -> F.Column:
    """Morton/Z-value: bit-interleave k already-quantized integer columns
    (each in [0, 2^bits)) into one long. Pure shift/and arithmetic —
    whole-stage-codegen'd, no UDF.

    ``len(cols) * bits`` must fit in the 63 value bits of a long:
    Java's shiftleft masks the count mod 64, so an overflowing lane
    would silently alias onto bit 0's lane and corrupt the curve
    (code-review r15) — refuse instead."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(
            f"interleave of {k} columns x {bits} bits needs {k * bits} "
            "bits; a long holds 63 — lower bits= or drop columns"
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    num_files: int = 8,
    bits: int = 8,
) -> list[tuple[str, list[float]]]:
    """Write ``df`` as parquet clustered on the Z-curve of
    ``zorder_cols``: quantize each column by its quantiles, interleave
    bits, range-partition on the Z-value (one exchange), sort within
    partitions, drop the helper column at the writer. Returns the cut
    points per column (the layout's model state, for audit/re-use).

    The result is one shuffle regardless of how many columns
    participate — the layout cost is identical to a plain
    ``repartitionByRange(sort_key)`` rewrite, but every zorder column
    gets useful min/max file stats."""
    # ONE approxQuantile job for every zorder column (the per-column
    # loop ran one full scan per column — optimization r15, guide §5
    # driver/actions; results identical, same sketch per column).
    n = (1 << bits) - 1
    probs = [(i + 1) / (n + 1) for i in range(n)]
    all_cuts = df.approxQuantile(zorder_cols, probs, 0.01)
    cuts_and_exprs = [
        (c, _bucket_expr_from_cuts(c, cuts, n))
        for c, cuts in zip(zorder_cols, all_cuts)
    ]
    z = interleave_bits([e for _, (_, e) in cuts_and_exprs], bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return [(c, cuts) for c, (cuts, _) in cuts_and_exprs]
