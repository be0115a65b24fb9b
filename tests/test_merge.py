"""Copy-on-write MERGE with file-level pruning (operators/merge.py)."""
from __future__ import annotations

import os

from pyspark.sql import functions as F

from cirro_annotation_spark.operators.merge import (
    file_key_bounds,
    merge_into_parquet,
)


def _build_base(spark, path, n=800, files=8):
    df = spark.range(n).select(
        F.col("id").alias("key"), (F.col("id") * 10).alias("val")
    )
    # key-clustered layout: repartitionByRange gives each file a
    # disjoint key range — the precondition for write pruning to bite
    df.repartitionByRange(files, "key").sortWithinPartitions("key").write.mode(
        "overwrite"
    ).parquet(path)


def _inodes(path):
    return {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def test_bounds_cover_disjoint_ranges(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base)
    bounds = file_key_bounds(base, "key")
    assert len(bounds) == 8
    ranges = sorted((lo, hi) for _, lo, hi in bounds)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint and ordered


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base)
    before = _inodes(base)
    # updates confined to keys 0..49 (one file's range) + brand-new keys
    src = spark.createDataFrame(
        [(k, k * 1000) for k in range(50)] + [(10_000 + k, -1) for k in range(5)],
        "key long, val long",
    )
    stats = merge_into_parquet(spark, base, src, "key")
    assert stats["files_total"] == 8
    assert stats["files_rewritten"] == 1
    after = _inodes(base)
    # untouched files are the SAME inodes (hard links, not copies)
    shared = set(before.values()) & set(after.values())
    assert len(shared) == 7

    # semantics: source wins on matched keys, inserts present, rest intact
    got = {r.key: r.val for r in spark.read.parquet(base).collect()}
    assert len(got) == 805
    assert got[10] == 10_000
    assert got[10_003] == -1
    assert got[400] == 4000


def test_merge_full_overlap_rewrites_all(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base)
    src = spark.range(0, 800, 100).select(
        F.col("id").alias("key"), F.lit(-5).alias("val")
    )  # one key in every file's range
    stats = merge_into_parquet(spark, base, src, "key")
    assert stats["files_rewritten"] == 8
    got = {r.key: r.val for r in spark.read.parquet(base).collect()}
    assert got[700] == -5 and got[701] == 7010


def test_merge_equals_naive_merge(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base, n=300, files=4)
    expected_base = {k: k * 10 for k in range(300)}
    src_rows = [(k, k + 7) for k in range(90, 140)] + [(900, 1), (901, 2)]
    for k, v in src_rows:
        expected_base[k] = v
    src = spark.createDataFrame(src_rows, "key long, val long")
    merge_into_parquet(spark, base, src, "key")
    got = {r.key: r.val for r in spark.read.parquet(base).collect()}
    assert got == expected_base


def test_merge_recovers_interrupted_swap(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base, n=100, files=2)
    src = spark.createDataFrame([(0, -1)], "key long, val long")
    merge_into_parquet(spark, base, src, "key")
    # simulate a crash between the two renames: base gone, base.old left
    os.rename(base, base + ".old")
    merge_into_parquet(
        spark, base, spark.createDataFrame([(1, -2)], "key long, val long"), "key"
    )
    got = {r.key: r.val for r in spark.read.parquet(base).collect()}
    assert got[0] == -1 and got[1] == -2 and len(got) == 100


def test_merge_successful_swap_cleans_leaked_staging(spark, tmp_path):
    """A staging dir leaked by an earlier crash must not survive a later
    SUCCESSFUL merge — recovery would otherwise consider promoting it
    forever (the CDC sink's rule, now shared through publish.py)."""
    base = str(tmp_path / "base")
    _build_base(spark, base, n=100, files=2)
    leaked = base + ".staging-leftover"
    os.makedirs(leaked)
    merge_into_parquet(
        spark, base, spark.createDataFrame([(0, -1)], "key long, val long"), "key"
    )
    assert not os.path.exists(leaked)
    got = {r.key: r.val for r in spark.read.parquet(base).collect()}
    assert got[0] == -1 and len(got) == 100


def test_delete_mode_erases_keys_with_pruned_rewrite(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base)
    before = _inodes(base)
    victims = spark.createDataFrame([(k,) for k in range(20, 30)], "key long")
    stats = merge_into_parquet(spark, base, victims, "key", delete=True)
    assert stats["files_rewritten"] == 1
    after = _inodes(base)
    assert len(set(before.values()) & set(after.values())) == 7
    got = {r.key for r in spark.read.parquet(base).collect()}
    assert len(got) == 790
    assert got.isdisjoint(set(range(20, 30)))


def test_delete_mode_no_matches_links_everything(spark, tmp_path):
    base = str(tmp_path / "base")
    _build_base(spark, base, n=100, files=2)
    before = _inodes(base)
    victims = spark.createDataFrame([(10_000,)], "key long")
    stats = merge_into_parquet(spark, base, victims, "key", delete=True)
    assert stats["files_rewritten"] == 0
    assert set(before.values()) == set(_inodes(base).values())
    assert spark.read.parquet(base).count() == 100


def test_merge_leaves_no_sibling_directory(spark, tmp_path):
    """A merge replaces its base in place: no retained version, no
    ``.old`` and no staging directory is left beside it."""
    base = str(tmp_path / "base")
    _build_base(spark, base, n=200, files=4)
    src = spark.createDataFrame([(5, -5), (5000, 1)], "key long, val long")
    merge_into_parquet(spark, base, src, "key")
    merge_into_parquet(spark, base, src.select("key"), "key", delete=True)
    assert os.listdir(tmp_path) == ["base"]
    assert spark.read.parquet(base).count() == 199


def test_merge_validated_by_table_diff(spark, tmp_path):
    """Integration: copy the table, merge, then table_diff(copy, live)
    must recover EXACTLY the edit script that was merged — the
    reconciliation loop a production pipeline runs after every merge."""
    import shutil

    from cirro_annotation_spark.operators.merge import table_diff

    base = str(tmp_path / "base")
    before = str(tmp_path / "before")
    _build_base(spark, base, n=400, files=4)
    shutil.copytree(base, before)
    src = spark.createDataFrame(
        [(k, -k) for k in range(10, 20)] + [(5000, 1), (5001, 2)],
        "key long, val long",
    )
    merge_into_parquet(spark, base, src, "key")
    diff = table_diff(
        spark.read.parquet(before),
        spark.read.parquet(base),
        "key",
        ["val"],
    ).collect()
    got = {(r.key, r.status) for r in diff}
    want = {(k, "changed") for k in range(10, 20)} | {
        (5000, "added"),
        (5001, "added"),
    }
    assert got == want


def test_merge_schema_evolution_widens_table(spark, tmp_path):
    """A source bringing a NEW column widens the table: matched rows
    carry the value, kept rows in rewritten files and rows in
    untouched (never-rewritten, old-schema) files read back as NULL
    through a mergeSchema read; a later plain merge still works against
    the evolved table."""

    base = str(tmp_path / "ev")
    # two files with disjoint key ranges -> the high-range file stays
    # untouched (old schema) when we merge low keys
    spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(base)
    spark.range(50, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("append").parquet(base)

    src = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(777).alias("v"),
        F.lit("gold").alias("tier"),  # the evolving column
    )
    stats = merge_into_parquet(spark, base, src, key="k")
    assert stats["files_rewritten"] == 1  # high-range file untouched

    live = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(live.columns) == {"k", "v", "tier"}
    rows = {r["k"]: (r["v"], r["tier"]) for r in live.collect()}
    assert len(rows) == 100
    assert rows[0] == (777, "gold")            # matched: updated + new col
    assert rows[10] == (20, None)              # kept row in rewritten file
    assert rows[99] == (198, None)             # untouched old-schema file

    # the evolved table still merges (old-schema source this time)
    merge_into_parquet(
        spark,
        base,
        spark.range(98, 102).select(
            F.col("id").alias("k"), F.lit(5).alias("v")
        ),
        key="k",
    )
    rows2 = {
        r["k"]: (r["v"], r["tier"])
        for r in spark.read.option("mergeSchema", "true").parquet(base).collect()
    }
    assert len(rows2) == 102
    assert rows2[99] == (5, None) and rows2[101] == (5, None)
    assert rows2[0] == (777, "gold")  # evolution survives the next merge

def test_merge_mixed_schema_affected_set_keeps_evolved_column(spark, tmp_path):
    """ADVICE r10 (high): a merge whose AFFECTED set spans both an
    old-schema file and an evolved (widened) file must read the pair
    with mergeSchema — a plain read takes the schema from an arbitrary
    footer and can silently rewrite kept rows WITHOUT the evolved
    column (permanent, nondeterministic data loss)."""

    base = str(tmp_path / "mixed")
    spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(base)
    spark.range(50, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("append").parquet(base)

    # merge 1 evolves ONLY the low-range file (adds `tier`); the
    # high-range file keeps the old 2-column physical schema
    merge_into_parquet(
        spark,
        base,
        spark.range(5).select(
            F.col("id").alias("k"),
            F.lit(0).alias("v"),
            F.lit("gold").alias("tier"),
        ),
        key="k",
    )

    # merge 2's source keys hit BOTH files -> mixed-schema affected set
    stats = merge_into_parquet(
        spark,
        base,
        spark.createDataFrame([(10, -1), (90, -1)], "k long, v long"),
        key="k",
    )
    assert stats["files_rewritten"] == 2

    rows = {
        r["k"]: (r["v"], r["tier"])
        for r in spark.read.option("mergeSchema", "true").parquet(base).collect()
    }
    assert len(rows) == 100
    assert rows[0] == (0, "gold")   # evolved value SURVIVES the mixed rewrite
    assert rows[10] == (-1, None)   # merge-2 update
    assert rows[90] == (-1, None)
    assert rows[99] == (198, None)  # kept old-schema row


def test_table_diff_null_shift_is_a_change(spark):
    """('x', NULL) -> (NULL, 'x') must be reported 'changed' — concat_ws
    alone dropped NULLs and their separator, digesting both sides
    identically (code-review r15)."""
    from cirro_annotation_spark.operators.merge import table_diff

    a = spark.createDataFrame([(1, "x", None), (2, "y", "z")], "k long, c1 string, c2 string")
    b = spark.createDataFrame([(1, None, "x"), (2, "y", "z")], "k long, c1 string, c2 string")
    out = {r["k"]: r["status"] for r in table_diff(a, b, "k", ["c1", "c2"]).collect()}
    assert out == {1: "changed"}


def test_table_diff_value_containing_separator_tags(spark):
    """The \\x00/\\x01 tags themselves must not create false equality for
    values that embed them."""
    from cirro_annotation_spark.operators.merge import table_diff

    a = spark.createDataFrame([(1, "\x01a", "b")], "k long, c1 string, c2 string")
    b = spark.createDataFrame([(1, "\x01a", "b")], "k long, c1 string, c2 string")
    assert table_diff(a, b, "k", ["c1", "c2"]).count() == 0


def test_table_diff_separator_embedding_values(spark):
    """Values embedding the separator/tag bytes must not shift across
    column boundaries: per-column digests make fields fixed-width
    (code-review r15 second pass)."""
    from cirro_annotation_spark.operators.merge import table_diff

    a = spark.createDataFrame([(1, "x\x1f\x01y", "z")], "k long, c1 string, c2 string")
    b = spark.createDataFrame([(1, "x", "y\x1f\x01z")], "k long, c1 string, c2 string")
    out = {r["k"]: r["status"] for r in table_diff(a, b, "k", ["c1", "c2"]).collect()}
    assert out == {1: "changed"}
