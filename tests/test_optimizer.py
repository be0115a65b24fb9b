"""Manifest optimizer pre-pass (the reference's run_optimize stub,
actually built — SURVEY.md §3.3) and the one-call annotate() flow."""
from __future__ import annotations

from cirro_annotation_spark.manifest import annotate
from cirro_annotation_spark.manifest.fixtures import (
    FIELDS_DICTIONARY,
    build_fixture_tree,
)
from cirro_annotation_spark.manifest.model import (
    ColumnSpec,
    Manifest,
    MeltSpec,
    ReadOptions,
    TransformCommand,
)
from cirro_annotation_spark.manifest.optimizer import (
    merge_duplicate_sources,
    optimize_manifest,
    prune_empty_commands,
)


def _cmd(source, cols, target="t.parquet", melt=None, sep=None):
    return TransformCommand(
        source=source,
        target=target,
        cols=tuple(ColumnSpec(c) for c in cols),
        melt=melt,
        read=ReadOptions(sep=sep),
    )


def test_merge_same_source_unions_cols():
    m = Manifest(
        commands=(
            _cmd("a.txt", ["x", "y"]),
            _cmd("a.txt", ["y", "z"]),
            _cmd("b.txt", ["q"]),
        )
    )
    out = merge_duplicate_sources(m)
    assert len(out.commands) == 2
    merged = out.commands[0]
    assert [c.col for c in merged.cols] == ["x", "y", "z"]
    assert merged.target == "t.parquet"
    assert out.commands[1].source == "b.txt"


def test_merge_keeps_distinct_targets():
    """Same source, DIFFERENT declared outputs: both must survive —
    merging would silently never write the second dataset (round-2
    advisor finding against the old source-only merge key)."""
    m = Manifest(
        commands=(
            _cmd("a.txt", ["x", "y"]),
            _cmd("a.txt", ["y", "z"], target="other.parquet"),
        )
    )
    out = merge_duplicate_sources(m)
    assert len(out.commands) == 2
    assert {c.target for c in out.commands} == {"t.parquet", "other.parquet"}
    assert [c.col for c in out.commands[0].cols] == ["x", "y"]
    assert [c.col for c in out.commands[1].cols] == ["y", "z"]


def test_merge_respects_read_options_and_melt():
    melt = MeltSpec(key_name="k", value_name="v", value_cols=("x",))
    m = Manifest(
        commands=(
            _cmd("a.txt", ["x"], sep="\t"),
            _cmd("a.txt", ["x"], sep=","),       # different sep → distinct scan
            _cmd("a.txt", ["x"], sep="\t", melt=melt),  # melt changes cardinality
        )
    )
    out = merge_duplicate_sources(m)
    assert len(out.commands) == 3


def test_prune_empty():
    m = Manifest(commands=(_cmd("a.txt", []), _cmd("b.txt", ["x"])))
    out = prune_empty_commands(m)
    assert len(out.commands) == 1 and out.commands[0].source == "b.txt"


def test_optimize_composes():
    m = Manifest(
        commands=(_cmd("a.txt", ["x"]), _cmd("a.txt", ["y"]), _cmd("c.txt", []))
    )
    out = optimize_manifest(m)
    assert len(out.commands) == 1
    assert [c.col for c in out.commands[0].cols] == ["x", "y"]


def test_annotate_end_to_end(spark, tmp_path):
    data = build_fixture_tree(str(tmp_path))
    out_dir = str(tmp_path / "out")
    manifest, results = annotate(
        spark,
        data,
        out_dir,
        variable_templates=["mageck/[gene]/rra.sgrna_summary.txt"],
        melt_groups={
            "mageck/count/combined/counts.txt": [
                "ctrl_r1", "ctrl_r2", "treat_r1", "treat_r2",
            ]
        },
        dictionary=FIELDS_DICTIONARY,
    )
    assert len(manifest.commands) == 3
    assert len(results) == 3
    counts = {t.rsplit("/", 1)[-1]: df.count() for t, df in results.items()}
    assert counts["rra_sgrna_summary.parquet"] == 150
    assert counts["counts.parquet"] == 400
    assert counts["summary.parquet"] == 4
