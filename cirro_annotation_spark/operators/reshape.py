"""Reshaping operators: melt (wide→long), pivot (long→wide), union by name.

The reference's signature operator is melt — a wide frame of per-sample
columns folded into (key, value) long form, declared in its manifest as
``kwargs.melt`` / ``params.melt`` (reference: run_annotate.py:104-120,
202-211, 240-249; json/example/transform.json:20). Its family-union with
path tokens, ``concat`` (run_annotate.py:195), is one multi-path scan
plus ``regexp_extract(input_file_name())`` in manifest/compiler.py.

Scale notes: melt/unpivot is a narrow transformation — each row expands
to k rows in place, no shuffle, perfectly parallel. pivot with explicit
values is one hash-aggregate (and skips the distinct-values pre-scan).
unionByName is metadata-only.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    ids: list[str],
    values: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long unpivot, pandas ``df.melt`` semantics (run_annotate.py:202-211).

    Uses Spark's native ``unpivot`` (Catalyst ``Expand`` node — codegen'd,
    shuffle-free). All value columns are cast to their common supertype by
    Spark; callers with mixed types should pre-cast.
    """
    if not values:
        # pandas melts every non-id column when values is empty.
        values = [c for c in df.columns if c not in ids]
    return df.unpivot(ids, values, var_name, value_name)


def pivot(
    df: DataFrame,
    group_by: list[str],
    pivot_col: str,
    values: list[str] | None = None,
    agg: str = "count",
    agg_col: str | None = None,
) -> DataFrame:
    """Long→wide inverse of melt.

    ``values`` pins the output columns (and skips the extra distinct scan
    Spark otherwise runs — at 100 TB that pre-scan is a full pass over the
    data). Missing (group, value) cells become 0 for counts.
    """
    gp = df.groupBy(*group_by).pivot(pivot_col, values)
    if agg == "count":
        out = gp.count()
        # Spark yields null for empty cells; COUNT semantics say 0.
        fill = {c: 0 for c in out.columns if c not in group_by}
        return out.fillna(fill)
    if agg_col is None:
        raise ValueError("agg_col required for non-count pivots")
    return gp.agg(getattr(F, agg)(agg_col))


def union_by_name(frames: Iterable[DataFrame]) -> DataFrame:
    """Union a family of frames by column NAME, null-filling gaps.

    This is the §1.3 schema discipline: files missing a manifest column
    contribute nulls; extra columns were already projected away.
    """
    frames = list(frames)
    if not frames:
        raise ValueError("union_by_name needs at least one frame")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out

