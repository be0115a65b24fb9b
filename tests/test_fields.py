"""Fields-dictionary resolution: alias lists + process/file wildcard
scoping (reference json/example/fields.json:3-75) and the flat GPT form
(json/example/gpt/fields.json:2-6); manifest load-time validation;
kwargs.read.index_col (transform.json:16-19).
"""
from __future__ import annotations

import dataclasses

import pytest

from cirro_annotation_spark.manifest.compiler import compile_command
from cirro_annotation_spark.manifest.fields import load_fields_dictionary
from cirro_annotation_spark.manifest.fixtures import build_fixture_tree
from cirro_annotation_spark.manifest.model import (
    Manifest,
    ManifestValidationError,
    ReadOptions,
    load_manifest,
)
from cirro_annotation_spark.manifest.planner import build_manifest

# The reference's rich shape, verbatim structure (fields.json:3-75).
RICH = [
    {
        "column": ["id"],
        "metadata": [
            {"process": "*", "file": "*", "name": "Identifier", "desc": "This uniquely ids the row"},
            {"process": "a", "file": "aa", "name": "", "desc": ""},
        ],
    },
    {
        "column": ["p.value", "pvalue", "p-value"],
        "metadata": [
            {"process": "*", "file": "*", "name": "P-value", "desc": "Statistical significance"},
            {"process": "mageck", "file": "*", "name": "RRA P-value", "desc": "MAGeCK RRA significance"},
        ],
    },
]

FLAT = [{"col": "sgrna", "name": "sgRNA", "desc": "guide RNA"}]


def test_alias_resolution():
    d = load_fields_dictionary(RICH)
    for alias in ("p.value", "pvalue", "p-value", "PVALUE", " P-Value "):
        meta = d.resolve(alias)
        assert meta and meta["name"] == "P-value", alias


def test_scope_specificity_beats_wildcard():
    d = load_fields_dictionary(RICH)
    assert d.resolve("pvalue", process="mageck")["name"] == "RRA P-value"
    assert d.resolve("pvalue", process="other")["name"] == "P-value"


def test_empty_placeholder_loses_to_content():
    """fields.json:19-24 style empty-name scoped records must not shadow
    the wildcard record that has content."""
    d = load_fields_dictionary(RICH)
    meta = d.resolve("id", process="a", file="aa")
    assert meta["name"] == ""  # exact scope wins even if empty (explicit)
    assert d.resolve("id", process="zz", file="zz")["name"] == "Identifier"


def test_flat_and_mapping_forms():
    d1 = load_fields_dictionary(FLAT)
    assert d1.resolve("sgrna")["name"] == "sgRNA"
    d2 = load_fields_dictionary({"gene": {"name": "Gene", "desc": "symbol"}})
    assert d2.resolve("GENE")["name"] == "Gene"
    assert d2.resolve("unknown") is None


def test_rich_dictionary_through_planner(spark, tmp_path):
    """A dictionary in the reference's own rich shape resolves names/descs
    end-to-end through build_manifest."""
    data = build_fixture_tree(str(tmp_path))
    rich = [
        {
            "column": ["sgrna", "sgRNA_id"],
            "metadata": [{"process": "*", "file": "*", "name": "sgRNA", "desc": "guide"}],
        }
    ]
    m = build_manifest(spark, data, dictionary=rich)
    specs = {c.col: c for cmd in m.commands for c in cmd.cols}
    assert specs["sgrna"].name == "sgRNA"
    assert specs["sgrna"].desc == "guide"


def _counts_command(spark, data, index_col):
    """The planned command of the fixture's counts file, with
    ``kwargs.read.index_col`` set as a hand-written manifest sets it."""
    m = build_manifest(spark, data)
    cmd = next(c for c in m.commands if c.target == "counts.parquet")
    return dataclasses.replace(cmd, read=ReadOptions(index_col=index_col))


def test_index_col_hoisted_and_tagged(spark, tmp_path):
    data = build_fixture_tree(str(tmp_path))
    cmd = _counts_command(spark, data, "sgRNA")
    assert cmd.read.index_col == "sgRNA"
    df = compile_command(spark, cmd, data)
    assert df.columns[0] == "sgrna"
    assert df.schema["sgrna"].metadata.get("index") is True


def test_index_col_survives_json_roundtrip(spark, tmp_path):
    data = build_fixture_tree(str(tmp_path))
    m = Manifest(commands=(_counts_command(spark, data, "sgrna"),))
    loaded = load_manifest(m.to_json())
    cmd = next(c for c in loaded.commands if c.target == "counts.parquet")
    assert cmd.read.index_col == "sgrna"


# --- load-time validation ---------------------------------------------------

def test_validation_missing_target():
    with pytest.raises(ManifestValidationError, match=r"commands\[0\].params.target"):
        load_manifest('{"commands": [{"command": "hot.Parquet", "params": {"source": "a"}}]}')


def test_validation_unknown_command():
    with pytest.raises(ManifestValidationError, match="unknown command"):
        load_manifest(
            '{"commands": [{"command": "hot.CSV", "params": {"source": "a", "target": "b"}}]}'
        )


def test_validation_bad_cols():
    with pytest.raises(ManifestValidationError, match=r"cols\[0\]"):
        load_manifest(
            '{"commands": [{"params": {"source": "a", "target": "b", "cols": [{"name": "x"}]}}]}'
        )


def test_validation_bad_root():
    with pytest.raises(ManifestValidationError):
        load_manifest('{"commands": "nope"}')
