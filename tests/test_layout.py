"""Z-order layout sink: multi-column file-skipping actually works.

The claim under test is the 100 TB one, measured at test scale through
the public parquet footer API: after write_zordered on (user_id, value),
a range predicate on EITHER column prunes most row groups, whereas the
single-key-sorted layout prunes only on its sort key.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest

from cirro_annotation_spark.operators import layout as L
from cirro_annotation_spark.suites.util import t

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def rowgroup_overlap_fraction(path: str, col: str, lo, hi) -> float:
    """The fraction of parquet row groups whose [min, max] stats for
    ``col`` overlap [lo, hi] — i.e. the fraction a stats-aware reader
    must actually read. Uses the public pyarrow footer API."""
    files = sorted(
        glob.glob(os.path.join(path, "*.parquet"))
        + glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    total = 0
    overlapping = 0
    for f in set(files):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or st.min is None:
                overlapping += 1
            elif not (st.max < lo or st.min > hi):
                overlapping += 1
    return overlapping / max(total, 1)


@pytest.fixture(scope="module")
def events(spark):
    return t(spark, SF_DIR, "events").select("user_id", "value", "event_type")


def _value_band(df):
    """A ~10%-selectivity band on value, derived from the data itself so
    the test tracks fixture regenerations."""
    lo, hi = df.approxQuantile("value", [0.45, 0.55], 0.001)
    return lo, hi


def test_zorder_prunes_on_both_columns(spark, events, tmp_path):
    zpath = str(tmp_path / "z")
    linear = str(tmp_path / "linear")
    L.write_zordered(events, zpath, ["user_id", "value"], num_files=16)
    (
        events.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(linear)
    )
    lo, hi = _value_band(events)
    z_value = rowgroup_overlap_fraction(zpath, "value", lo, hi)
    lin_value = rowgroup_overlap_fraction(linear, "value", lo, hi)
    # The user_id-sorted layout has useless value stats: essentially every
    # row group overlaps a 10% value band. Z-order must skip a majority
    # and be strictly better. (The curve splits its boundary bits across
    # BOTH columns — with 16 files it spends ~2 bits per column, so the
    # expected overlap for a 10% band is ~2/2^2 boundary cells = ~0.5,
    # not the 0.06 a value-major sort would give: that is the z-order
    # fairness tradeoff, and the single-key assertions below are its
    # other half.)
    assert lin_value > 0.9, lin_value
    assert z_value <= 0.5, z_value
    assert z_value < lin_value

    # ... while still pruning on user_id (impossible for the value-sorted
    # layout: every file would contain all 15 users at this sf).
    uid = events.selectExpr("min(user_id) as m").first()["m"]
    z_uid = rowgroup_overlap_fraction(zpath, "user_id", uid, uid)
    lin_uid = rowgroup_overlap_fraction(linear, "user_id", uid, uid)
    assert z_uid <= 0.5, z_uid
    assert lin_uid < 0.2, lin_uid  # sanity: the linear layout's own key


def test_zorder_roundtrip_preserves_rows(spark, events, tmp_path):
    zpath = str(tmp_path / "z2")
    L.write_zordered(events, zpath, ["user_id", "value"], num_files=4)
    back = spark.read.parquet(zpath)
    assert back.count() == events.count()
    assert sorted(back.columns) == sorted(events.columns)


def test_interleave_bits_is_morton_order(spark):
    """Golden check on the bit math: interleave(x, y) for 2-bit inputs
    reproduces the textbook Morton sequence."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("x"), F.lit(0).cast("long").alias("y")
    )
    z = [
        r["z"]
        for r in df.select(
            L.interleave_bits([F.col("x"), F.col("y")], bits=2).alias("z")
        )
        .orderBy("x")
        .collect()
    ]
    # y=0: z = interleaved x bits at even positions -> 0,1,4,5
    assert z == [0, 1, 4, 5]


def test_zorder_stats_zone_maps_narrow(spark):
    """layout_zorder_stats on the sf0.001 lineitem: 8 files, every
    row accounted for, and each file's zone map spans at most ~1/4 of
    the partkey domain and ~1/2 of the suppkey domain (+1 cell of
    quantization slack) — the property that makes predicates on EITHER
    column prune files."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites
    from cirro_annotation_spark.suites.util import t as read_t

    load_all_suites()
    sf = "/root/testdata/sf0.001"
    li = read_t(spark, sf, "lineitem")
    total = li.count()
    pk_lo, pk_hi, sk_lo, sk_hi = li.selectExpr(
        "min(l_partkey)", "max(l_partkey)", "min(l_suppkey)", "max(l_suppkey)"
    ).first()
    out = QUERIES["layout_zorder_stats"](spark, sf).collect()
    assert sum(r["n_rows"] for r in out) == total
    assert {r["file_id"] for r in out} <= set(range(8))
    pk_cell = (pk_hi - pk_lo + 1) / 16
    sk_cell = (sk_hi - sk_lo + 1) / 16
    for r in out:
        assert r["pk_max"] - r["pk_min"] <= 4 * pk_cell + pk_cell
        assert r["sk_max"] - r["sk_min"] <= 8 * sk_cell + sk_cell
