"""Manifest optimizer pre-pass (the reference's run_optimize stub,
actually built — SURVEY.md §3.3) and the one-call annotate() flow."""
from __future__ import annotations

from cirro_annotation_spark.manifest import annotate
from cirro_annotation_spark.manifest.fixtures import (
    FIELDS_DICTIONARY,
    build_fixture_tree,
)
from cirro_annotation_spark.manifest.model import ColumnSpec, Manifest, TransformCommand
from cirro_annotation_spark.manifest.optimizer import prune_empty_commands


def _cmd(source, cols):
    return TransformCommand(
        source=source, target="t.parquet", cols=tuple(ColumnSpec(c) for c in cols)
    )


def test_prune_empty():
    m = Manifest(commands=(_cmd("a.txt", []), _cmd("b.txt", ["x"])))
    out = prune_empty_commands(m)
    assert len(out.commands) == 1 and out.commands[0].source == "b.txt"


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
