"""Coverage for the reshape/join operators not exercised via queries:
union by name, non-count pivots, and the bucketized interval-overlap
join. The per-file token union runs in manifest/compiler.py and is
covered by tests/test_manifest.py."""
from __future__ import annotations

from pyspark.sql import functions as F

from cirro_annotation_spark.operators.joins import interval_overlap_join
from cirro_annotation_spark.operators.reshape import pivot, union_by_name


def test_union_by_name_empty_raises(spark):
    import pytest

    with pytest.raises(ValueError):
        union_by_name([])


def test_pivot_sum_agg(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("a", "x", 4.0)],
        "k string, p string, v double",
    )
    out = pivot(df, ["k"], "p", values=["x", "y"], agg="sum", agg_col="v")
    got = {r["k"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"a": (5.0, 2.0), "b": (3.0, None)}


def test_pivot_count_fills_zero(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], "k string, p string"
    )
    out = pivot(df, ["k"], "p", values=["x", "y"])
    got = {r["k"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"a": (1, 1), "b": (1, 0)}


def test_interval_overlap_join(spark):
    """Bucketized overlap equals the exact O(n*m) overlap predicate."""
    left = spark.createDataFrame(
        [(1, 0, 100), (1, 200, 300), (2, 50, 60)],
        "k long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(1, 90, 210), (1, 500, 600), (2, 10, 55)],
        "k long, rs long, re long",
    )
    out = interval_overlap_join(
        left, right, "k", "ls", "le", "rs", "re", bucket_width_expr="100"
    )
    got = {(r["k"], r["ls"], r["rs"]) for r in out.collect()}
    # exact expectation: [0,100]x[90,210] overlap, [200,300]x[90,210]
    # overlap, [50,60]x[10,55] overlap; nothing touches [500,600]
    assert got == {(1, 0, 90), (1, 200, 90), (2, 50, 10)}


def test_melt_pivot_inverse_property(spark):
    """SURVEY §5.3's melt⇄pivot inverse, as a hypothesis property: for a
    generated wide frame, melt → pivot(first) reconstructs exactly the
    original (ids, value columns) content."""
    from hypothesis import given, settings, strategies as st

    from cirro_annotation_spark.operators.reshape import melt

    vals = st.integers(min_value=-1000, max_value=1000)

    @settings(max_examples=8, deadline=None)
    @given(rows=st.lists(st.tuples(vals, vals, vals), min_size=1, max_size=6,
                         unique_by=lambda r: r[0]))
    def prop(rows):
        wide = spark.createDataFrame(rows, "id long, a long, b long")
        long = melt(wide, ["id"], ["a", "b"], "k", "v")
        assert long.count() == 2 * len(rows)
        back = (
            long.groupBy("id").pivot("k", ["a", "b"]).agg(F.first("v"))
        )
        got = sorted(map(tuple, back.collect()))
        want = sorted(rows)
        assert got == want, (got, want)

    prop()
