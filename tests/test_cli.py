"""CLI surface tests (python -m cirro_annotation_spark ...)."""
from __future__ import annotations

import json
import os

import pytest

from cirro_annotation_spark.__main__ import main
from cirro_annotation_spark.manifest.fixtures import FIELDS_DICTIONARY, build_fixture_tree


def test_datasets_subcommand_lists_newest_first(spark, sf_dir, capsys):
    rc = main(
        [
            "datasets",
            "--table", f"{sf_dir}/orders.parquet",
            "--name-col", "o_orderpriority",
            "--id-col", "o_orderkey",
            "--created-col", "o_orderdate",
            "--limit", "5",
        ]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert len(lines) == 5
    days = [l.split("\t")[1] for l in lines]
    assert days == sorted(days, reverse=True)
    for line in lines:
        label = line.split("\t")[0]
        assert " - " in label


def _row_lines(capsys):
    return sorted(l for l in capsys.readouterr().out.splitlines() if l.endswith(" rows"))


def test_annotate_manifest_out_then_execute_twice(spark, tmp_path, capsys):
    """annotate writes its manifest; execute runs it twice into the same
    output directory, republishing over the existing targets, and every
    run reports the same target row counts."""
    data = build_fixture_tree(str(tmp_path))
    fields = tmp_path / "fields.json"
    fields.write_text(json.dumps(FIELDS_DICTIONARY))
    manifest = str(tmp_path / "manifest.json")
    out = str(tmp_path / "out")
    rc = main(
        [
            "annotate",
            "--data-dir", data,
            "--output-dir", out,
            "--variable-template", "mageck/[gene]/rra.sgrna_summary.txt",
            "--melt", "mageck/count/combined/counts.txt:ctrl_r1,ctrl_r2,treat_r1,treat_r2",
            "--fields", str(fields),
            "--manifest-out", manifest,
        ]
    )
    assert rc == 0
    annotated = _row_lines(capsys)
    with open(manifest) as f:
        assert len(json.load(f)["commands"]) == 3

    runs = []
    for _ in range(2):
        rc = main(["execute", "--manifest", manifest, "--data-dir", data, "--output-dir", out])
        assert rc == 0
        runs.append(_row_lines(capsys))
    assert runs[0] == runs[1] == annotated
    counts = {l.split(": ")[0].rsplit("/", 1)[-1]: l.split(": ")[1] for l in annotated}
    assert counts == {
        "counts.parquet": "400 rows",
        "rra_sgrna_summary.parquet": "150 rows",
        "summary.parquet": "4 rows",
    }
    assert sorted(os.listdir(out)) == sorted(counts)


def test_annotate_prunes_empty_sources_with_a_warning(spark, tmp_path, capsys):
    """annotate always prunes commands that resolve no columns: an empty
    .txt and a blank-lines .tsv are dropped by name, and the rest of the
    tree is written."""
    data = build_fixture_tree(str(tmp_path))
    open(os.path.join(data, "empty.txt"), "w").close()
    with open(os.path.join(data, "mageck", "blank.tsv"), "w") as f:
        f.write("\n\n\n")
    out = str(tmp_path / "out")
    with pytest.warns(UserWarning, match="dropped manifest targets") as warned:
        rc = main(
            [
                "annotate",
                "--data-dir", data,
                "--output-dir", out,
                "--variable-template", "mageck/[gene]/rra.sgrna_summary.txt",
            ]
        )
    assert rc == 0
    message = " ".join(str(w.message) for w in warned)
    assert "empty.parquet" in message and "blank.parquet" in message
    printed = {l.split(": ")[0].rsplit("/", 1)[-1] for l in _row_lines(capsys)}
    assert printed == {"counts.parquet", "rra_sgrna_summary.parquet", "summary.parquet"}
    assert sorted(os.listdir(out)) == sorted(printed)
