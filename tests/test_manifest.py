"""Golden manifest tests: the reference's declared pipeline (SURVEY.md §3.2)
run end-to-end on the FIXTURES.md §B tree — scan_dsv_sniffed →
normalize_colnames → project_rename → scan_glob_tokens → token union
(the compiler's regexp_extract(input_file_name())) → melt_unpivot →
sink_parquet
(reference: run_annotate.py:177-253).
"""
from __future__ import annotations

import os
import re

import pytest

from cirro_annotation_spark.manifest.compiler import (
    compile_command,
    token_template_to_glob,
    token_template_to_regex,
)
from cirro_annotation_spark.manifest.executor import execute_manifest
from cirro_annotation_spark.manifest.fixtures import (
    FIELDS_DICTIONARY,
    GENES,
    build_fixture_tree,
)
from cirro_annotation_spark.manifest.model import extract_tokens, load_manifest
from cirro_annotation_spark.manifest.planner import build_manifest


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory) -> str:
    return build_fixture_tree(str(tmp_path_factory.mktemp("fixture")))


@pytest.fixture(scope="module")
def manifest(spark, data_dir):
    return build_manifest(
        spark,
        data_dir,
        variable_templates=["mageck/[gene]/rra.sgrna_summary.txt"],
        melt_groups={
            "mageck/count/combined/counts.txt": [
                "ctrl_r1", "ctrl_r2", "treat_r1", "treat_r2",
            ]
        },
        dictionary=FIELDS_DICTIONARY,
    )


def _cmd(manifest, target):
    for c in manifest.commands:
        if c.target == target:
            return c
    raise KeyError(target)


# --- token template compiler properties (run_annotate.py:133-136) ---------

def test_extract_tokens():
    assert extract_tokens("data/mageck/[gene]/rra.[kind].txt") == ["gene", "kind"]


def test_template_regex_roundtrip():
    template = "data/mageck/[gene]/rra.sgrna_summary.txt"
    regex = token_template_to_regex(template)
    m = re.fullmatch(regex, "data/mageck/GENE_A/rra.sgrna_summary.txt")
    assert m and m.group(1) == "GENE_A"
    # dots in the template are literal, not wildcards
    assert not re.fullmatch(regex, "data/mageck/GENE_A/rraXsgrna_summary.txt")
    # tokens match exactly one path segment
    assert not re.fullmatch(regex, "data/mageck/a/b/rra.sgrna_summary.txt")


def test_template_glob():
    assert token_template_to_glob("d/[g]/f_[x].txt") == "d/*/f_*.txt*"
    assert token_template_to_glob("d/s.txt") == "d/s.txt"


# --- golden end-to-end execution ------------------------------------------

def test_variable_family_union(spark, manifest, data_dir):
    """3-gene family (one member gzipped) unions to 150 rows with the
    [gene] token materialized as a column."""
    df = compile_command(spark, _cmd(manifest, "rra_sgrna_summary.parquet"), data_dir)
    rows = df.collect()
    assert len(rows) == 3 * 50
    genes = {r["gene"] for r in rows}
    assert genes == set(GENES)
    # dotted source columns survive projection
    assert "p.low" in df.columns and "p.twosided" in df.columns


def test_melt_standard_counts(spark, manifest, data_dir):
    """counts.txt (100 rows × 4 sample cols) melts to 400 long rows;
    the one 'NA' cell coerces to NULL (to_numeric errors='coerce' parity,
    run_annotate.py:23-25) rather than raising under ANSI mode."""
    df = compile_command(spark, _cmd(manifest, "counts.parquet"), data_dir)
    assert df.columns == ["sgrna", "gene", "sample", "reads"]
    rows = df.collect()
    assert len(rows) == 400
    nulls = [r for r in rows if r["reads"] is None]
    assert len(nulls) == 1 and nulls[0]["sgrna"] == "sg0013"
    assert nulls[0]["sample"] == "treat_r1"


def test_project_dictionary_metadata(spark, manifest, data_dir):
    """Dictionary-resolved projection attaches {name, desc} column metadata
    (run_annotate.py:283-309)."""
    df = compile_command(spark, _cmd(manifest, "summary.parquet"), data_dir)
    meta = {f.name: f.metadata for f in df.schema.fields}
    assert meta["sample"]["name"] == "Sample"
    assert meta["giniindex"]["desc"] == "count inequality"
    assert df.count() == 4


def test_execute_manifest_writes_parquet(spark, manifest, data_dir, tmp_path):
    out = str(tmp_path / "out")
    results = execute_manifest(spark, manifest, data_dir, out)
    assert len(results) == 3
    for target, df in results.items():
        assert target.startswith(out)
        assert df.count() > 0


def _job_count(spark, group, run):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_execute_manifest_returns_targets_without_inference_jobs(
    spark, manifest, data_dir, tmp_path
):
    """Each returned frame has the schema a fresh read of its target
    gives, and execute_manifest launches exactly the jobs of compiling
    and writing its commands: reading a target back infers nothing."""

    def compile_and_write():
        for cmd in manifest.commands:
            compile_command(spark, cmd, data_dir).write.parquet(
                str(tmp_path / "direct" / cmd.target)
            )

    results = {}
    compiled = _job_count(
        spark, "compile", lambda: [compile_command(spark, cmd, data_dir) for cmd in manifest.commands]
    )
    direct = _job_count(spark, "direct-writes", compile_and_write)
    executed = _job_count(
        spark, "execute-manifest",
        lambda: results.update(
            execute_manifest(spark, manifest, data_dir, str(tmp_path / "out"))
        ),
    )
    # Types come from the head reads, so compiling starts no job and each
    # target is one write job.
    assert compiled == 0
    assert executed == direct == len(manifest.commands)
    for target, df in results.items():
        assert df.schema == spark.read.parquet(target).schema


def test_na_cells_read_as_null_of_the_column_type(spark, tmp_path):
    """pandas reads its default NA tokens as null and types the column by
    the other values: an unmelted ``NA`` leaves ``score`` a double and
    ``ok`` a boolean, and a family member's ``NA`` leaves the family's
    ``count`` integral (pandas would give float64 and object there; the
    engine keeps the type)."""
    from pyspark.sql.types import BooleanType, DoubleType, IntegralType

    from cirro_annotation_spark.manifest import annotate

    root = tmp_path / "data"
    (root / "std").mkdir(parents=True)
    (root / "std" / "scores.tsv").write_text("id\tscore\tok\na\t0.5\tTrue\nb\tNA\tNA\n")
    for g, count in (("A", "10"), ("B", "NA")):
        (root / "fam" / g).mkdir(parents=True)
        (root / "fam" / g / "counts.tsv").write_text(f"sgrna\tcount\ns{g}\t{count}\n")
    _, results = annotate(
        spark, str(root), str(tmp_path / "out"), variable_templates=["fam/[g]/counts.tsv"]
    )
    frames = {os.path.basename(t): df for t, df in results.items()}
    scores, fam = frames["scores.parquet"], frames["counts.parquet"]
    assert isinstance(scores.schema["score"].dataType, DoubleType), scores.schema
    assert isinstance(scores.schema["ok"].dataType, BooleanType), scores.schema
    assert {tuple(r) for r in scores.collect()} == {("a", 0.5, True), ("b", None, None)}
    assert isinstance(fam.schema["count"].dataType, IntegralType), fam.schema
    assert {tuple(r) for r in fam.collect()} == {("sA", 10, "A"), ("sB", None, "B")}


def test_types_drifting_after_the_head_are_widened_in_the_write(spark, tmp_path):
    """Types are frozen from a 4 KB head; a later value the frozen type
    cannot hold makes the write widen that column as pandas would and
    rewrite once: ``p.low`` (integers in the head) becomes double, ``lfc``
    (floats in the head) becomes string, and no value is nulled."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StringType

    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    rows = [f"sg{i:04d}\t{i % 3}\t{i / 7:.3f}" for i in range(400)]
    rows[-2] = "sg0398\t0.05\t1.000"
    rows[-1] = "sg0399\t2\tn.d."
    text = "sgrna\tp.low\tlfc\n" + "\n".join(rows) + "\n"
    assert text.index("0.05") > 4096 and text.index("n.d.") > 4096
    data = tmp_path / "data"
    data.mkdir()
    (data / "rra.txt").write_text(text)
    manifest = Manifest(commands=(TransformCommand(source="$data_directory/rra.txt", target="rra.parquet"),))
    results = {}
    jobs = _job_count(
        spark, "drift", lambda: results.update(
            execute_manifest(spark, manifest, str(data), str(tmp_path / "out"))
        )
    )
    assert jobs == 2  # the write, and one rewrite with the widened types
    (df,) = results.values()
    assert isinstance(df.schema["p.low"].dataType, DoubleType), df.schema
    assert isinstance(df.schema["lfc"].dataType, StringType), df.schema
    expected = pd.read_csv(data / "rra.txt", sep=None, engine="python")
    assert (expected.dtypes["p.low"], expected.dtypes["lfc"]) == ("float64", "object")
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(expected.itertuples(index=False, name=None))
    assert all(v is not None for row in got for v in row)


def test_java_float_suffix_after_the_head_widens_to_string(spark, tmp_path):
    """Spark's ``try_cast`` reads ``1.5d`` (Java's double suffix) as a
    number; pandas keeps the column as text. A float column whose later
    row holds one is written as string, with pandas' values."""
    import pandas as pd
    from pyspark.sql.types import StringType

    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    rows = [f"sg{i:04d}\t{i / 7:.3f}" for i in range(600)]
    rows[-1] = "sg0599\t1.5d"
    text = "sgrna\tlfc\n" + "\n".join(rows) + "\n"
    assert text.index("1.5d") > 4096
    data = tmp_path / "data"
    data.mkdir()
    (data / "rra.txt").write_text(text)
    manifest = Manifest(commands=(TransformCommand(source="$data_directory/rra.txt", target="rra.parquet"),))
    (df,) = execute_manifest(spark, manifest, str(data), str(tmp_path / "out")).values()
    assert isinstance(df.schema["lfc"].dataType, StringType), df.schema
    expected = pd.read_csv(data / "rra.txt", sep=None, engine="python")
    assert expected.dtypes["lfc"] == "object"
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        expected.itertuples(index=False, name=None)
    )


def test_manifest_json_roundtrip(manifest):
    """to_json → load_manifest is lossless for the executed fields."""
    loaded = load_manifest(manifest.to_json())
    assert len(loaded.commands) == len(manifest.commands)
    for a, b in zip(manifest.commands, loaded.commands):
        assert (a.source, a.target, a.tokens) == (b.source, b.target, b.tokens)
        assert [c.col for c in a.cols] == [c.col for c in b.cols]
        assert (a.melt is None) == (b.melt is None)
        if a.melt:
            assert a.melt.value_cols == b.melt.value_cols


def test_load_manifest_nested_command_groups():
    """The reference emits commands as a list of lists
    (run_annotate.py:314-319); the loader flattens."""
    m = load_manifest(
        '{"commands": [[{"command": "hot.Parquet", "params": '
        '{"source": "a.txt", "target": "a.parquet"}}]]}'
    )
    assert len(m.commands) == 1 and m.commands[0].target == "a.parquet"


def test_variable_family_mixed_separators(spark, tmp_path):
    """SURVEY risk-register case (round-5 verdict item 8): a family whose
    members sniff to DIFFERENT separators — one comma member, one tab
    member — must union correctly, because the reference sniffs each
    file independently (pd.read_csv(sep=None) per member,
    run_annotate.py:20-22). One scan per detected separator, unioned by
    column name; tokens still extract per row."""
    from cirro_annotation_spark.manifest.model import ReadOptions, TransformCommand

    root = tmp_path / "mixroot"
    (root / "mix" / "A").mkdir(parents=True)
    (root / "mix" / "B").mkdir(parents=True)
    (root / "mix" / "A" / "data.txt").write_text(
        "id,score\n1,0.5\n2,0.7\n"
    )
    (root / "mix" / "B" / "data.txt").write_text(
        "id\tscore\n3\t0.9\n4\t1.1\n"
    )
    cmd = TransformCommand(
        source="$data_directory/mix/[sample]/data.txt",
        target="mix.parquet",
        read=ReadOptions(),  # sep unset -> per-member sniff
    )
    df = compile_command(spark, cmd, str(root))
    rows = {(r["id"], r["score"], r["sample"]) for r in df.collect()}
    assert rows == {
        (1, 0.5, "A"),
        (2, 0.7, "A"),
        (3, 0.9, "B"),
        (4, 1.1, "B"),
    }


def _compile_family(spark, root, members, suffix=".txt", header=True):
    """Compile ``fam/[g]/s<suffix>`` over ``members`` ({g: file text}),
    letting every member's separator and header be sniffed."""
    import gzip

    from cirro_annotation_spark.manifest.model import ReadOptions, TransformCommand

    for g, text in members.items():
        path = root / "fam" / g / ("s" + suffix)
        path.parent.mkdir(parents=True)
        if suffix.endswith(".gz"):
            with gzip.open(path, "wt") as f:
                f.write(text)
        else:
            path.write_text(text)
    cmd = TransformCommand(
        source="$data_directory/fam/[g]/s.txt",
        target="fam.parquet",
        read=ReadOptions(header=header),
    )
    return compile_command(spark, cmd, str(root))


@pytest.mark.parametrize(
    "b_text, b_row",
    [
        # Reordered header: b's values land in b's named columns.
        ("count\tsgrna\tlfc\n30\tsB\t1.5\n", ("sB", 30, 1.5, "b")),
        # Missing column: lfc reads null for b's rows.
        ("sgrna\tcount\nsB\t30\n", ("sB", 30, None, "b")),
    ],
    ids=["reordered_header", "missing_column"],
)
def test_variable_family_aligns_members_by_name(spark, tmp_path, b_text, b_row):
    """The reference reads each member by name and concatenates
    (run_annotate.py:20-28): a member whose header differs from its
    siblings must not shift values into the wrong columns, and ``count``
    must stay numeric for the whole family."""
    from pyspark.sql.types import IntegralType

    df = _compile_family(
        spark, tmp_path, {"a": "sgrna\tcount\tlfc\nsA\t10\t0.5\n", "b": b_text}
    )
    assert isinstance(df.schema["count"].dataType, IntegralType), df.schema
    rows = {(r["sgrna"], r["count"], r["lfc"], r["g"]) for r in df.collect()}
    assert rows == {("sA", 10, 0.5, "a"), b_row}


@pytest.mark.parametrize("suffix", [".txt", ".txt.gz"])
def test_variable_family_header_wider_than_sniff_window(spark, tmp_path, suffix):
    """A header longer than the 4 KB sniff window (a matrix with many
    sample columns) is read whole, plain or gz: members that order the
    wide header differently still align by name, including the columns
    past the window."""
    names = [f"c{i:04d}" for i in range(800)]
    a_cols, b_cols = ["id", *names], [*names[::-1], "id"]
    a = {"id": "1", **{n: str(i) for i, n in enumerate(names)}}
    b = {"id": "2", **{n: str(1000 + i) for i, n in enumerate(names)}}
    members = {
        "a": "\t".join(a_cols) + "\n" + "\t".join(a[c] for c in a_cols) + "\n",
        "b": "\t".join(b_cols) + "\n" + "\t".join(b[c] for c in b_cols) + "\n",
    }
    assert len(members["a"].splitlines()[0]) > 4096
    df = _compile_family(spark, tmp_path, members, suffix=suffix)
    rows = {(r["g"], r["id"], r["c0000"], r["c0799"]) for r in df.collect()}
    assert rows == {("a", 1, 0, 799), ("b", 2, 1000, 1799)}


def test_variable_family_header_false_names_fields_positionally(spark, tmp_path):
    """``header=False`` keeps Spark's positional ``_c0..`` names for
    every member."""
    df = _compile_family(
        spark, tmp_path, {"a": "sA\t10\nsB\t20\n", "b": "sC\t30\n"}, header=False
    )
    assert df.columns == ["_c0", "_c1", "g"]
    rows = {(r["_c0"], r["_c1"], r["g"]) for r in df.collect()}
    assert rows == {("sA", 10, "a"), ("sB", 20, "a"), ("sC", 30, "b")}


def test_token_extraction_with_space_and_plus_in_path(spark, tmp_path):
    """input_file_name() is percent-encoded; the regex must match the
    DECODED path or every token silently extracts '' (code-review r15).
    A literal '+' in a segment must survive (pure URI decode, not form
    decode)."""
    root = tmp_path / "my data"
    for gene in ("GENE A", "g+plus"):
        d = root / "mageck" / gene
        d.mkdir(parents=True)
        (d / "rra.txt").write_text("id\tscore\nx\t1\n")
    from cirro_annotation_spark.manifest.model import load_manifest

    man = load_manifest(
        {
            "commands": [
                {
                    "command": "hot.Parquet",
                    "params": {
                        "source": "$data_directory/mageck/[gene]/rra.txt",
                        "target": "rra.parquet",
                        "cols": [{"col": "id"}, {"col": "score"}],
                        "concat": ["gene"],
                    },
                }
            ]
        }
    )
    df = compile_command(spark, man.commands[0], str(root))
    genes = {r["gene"] for r in df.select("gene").distinct().collect()}
    assert genes == {"GENE A", "g+plus"}


def test_planner_disambiguates_basename_collisions(spark, tmp_path):
    """Two standard files with one basename must not share a target
    (overwrite destroyed the first output — code-review r15)."""
    root = tmp_path / "data"
    for sub in ("runA", "runB"):
        d = root / sub
        d.mkdir(parents=True)
        (d / "summary.txt").write_text("id\tval\nx\t1\n")
    man = build_manifest(
        spark, str(root), dictionary={"id": {"name": "id"}, "val": {"name": "val"}}
    )
    targets = [c.target for c in man.commands]
    assert len(targets) == len(set(targets)) == 2
    assert set(targets) == {"runA__summary.parquet", "runB__summary.parquet"}


@pytest.mark.parametrize(
    "files, templates, expected",
    [
        (
            ["genes/G1/summary.tsv", "genes/G2/summary.tsv", "other/X1/summary.tsv"],
            ["genes/[gene]/summary.tsv", "other/[x]/summary.tsv"],
            {"genes__gene__summary.parquet": 2, "other__x__summary.parquet": 1},
        ),
        (
            ["genes/G1/summary.tsv", "genes/G2/summary.tsv", "qc/summary.tsv"],
            ["genes/[gene]/summary.tsv"],
            {"genes__gene__summary.parquet": 2, "qc__summary.parquet": 1},
        ),
    ],
    ids=["two_templates", "template_and_standard_file"],
)
def test_planner_names_colliding_sources_by_path(spark, tmp_path, files, templates, expected):
    """Families and standard files share one naming rule: any source
    whose basename another source shares takes its bracket-free path."""
    from cirro_annotation_spark.manifest import annotate

    root = tmp_path / "data"
    for rel in files:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text("id\tval\nx\t1\n")
    out = tmp_path / "out"
    man, results = annotate(spark, str(root), str(out), variable_templates=templates)
    assert sorted(c.target for c in man.commands) == sorted(expected)
    assert sorted(os.listdir(out)) == sorted(expected)
    assert {os.path.basename(t): df.count() for t, df in results.items()} == expected


def test_prune_keeps_melt_only_commands_and_warns(tmp_path):
    """A no-cols command with a melt is real work (empty cols = keep
    all); only truly unresolved commands drop, and loudly
    (code-review r15)."""
    import warnings

    from cirro_annotation_spark.manifest.model import (
        MeltSpec,
        Manifest,
        TransformCommand,
    )
    from cirro_annotation_spark.manifest.optimizer import prune_empty_commands

    melt_cmd = TransformCommand(
        source="$data_directory/a.txt",
        target="a.parquet",
        melt=MeltSpec(key_name="k", value_name="v", value_cols=("c1",)),
    )
    empty_cmd = TransformCommand(
        source="$data_directory/b.txt", target="b.parquet"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = prune_empty_commands(Manifest(commands=(melt_cmd, empty_cmd)))
    assert [c.target for c in out.commands] == ["a.parquet"]
    assert any("b.parquet" in str(x.message) for x in w)


def test_to_json_roundtrips_header_false():
    from cirro_annotation_spark.manifest.model import (
        ReadOptions,
        Manifest,
        TransformCommand,
        load_manifest,
    )

    man = Manifest(
        commands=(
            TransformCommand(
                source="$data_directory/a.txt",
                target="a.parquet",
                read=ReadOptions(header=False),
            ),
        )
    )
    again = load_manifest(man.to_json())
    assert again.commands[0].read.header is False


def test_melt_value_cols_case_normalized(spark, tmp_path):
    """Manifest value_cols in original case must melt the NORMALIZED
    column once — not keep it as an id AND melt it (code-review r15)."""
    root = tmp_path / "d"
    root.mkdir()
    (root / "m.txt").write_text("Gene\tCtrl_R1\nX\t3\n")
    from cirro_annotation_spark.manifest.model import load_manifest

    man = load_manifest(
        {
            "commands": [
                {
                    "command": "hot.Parquet",
                    "params": {
                        "source": "$data_directory/m.txt",
                        "target": "m.parquet",
                        "melt": {
                            "key": {"name": "sample"},
                            "value": {"name": "count"},
                            "value_cols": ["Ctrl_R1"],
                        },
                    },
                }
            ]
        }
    )
    df = compile_command(spark, man.commands[0], str(root))
    assert set(df.columns) == {"gene", "sample", "count"}
    row = df.first()
    assert row["sample"] == "ctrl_r1" and row["count"] == 3.0


def test_planner_melts_mixed_case_names(spark, tmp_path):
    """Melt names are matched under the sniffer's column-name rule, so a
    mixed-case list melts instead of leaving the target wide, and two
    spellings of one column melt it once."""
    from cirro_annotation_spark.manifest import annotate

    data = build_fixture_tree(str(tmp_path))
    counts = "mageck/count/combined/counts.txt"
    man, results = annotate(
        spark, data, str(tmp_path / "out"), melt_groups={counts: ["CTRL_R1", "Ctrl_R2 ", "ctrl_r1"]}
    )
    melt = next(c.melt for c in man.commands if c.source.endswith(counts))
    assert melt.value_cols == ("ctrl_r1", "ctrl_r2")
    df = next(df for t, df in results.items() if t.endswith("/counts.parquet"))
    assert {"sample", "reads"} <= set(df.columns)
    assert not {"ctrl_r1", "ctrl_r2"} & set(df.columns)
    assert {r["sample"] for r in df.select("sample").distinct().collect()} == {
        "ctrl_r1", "ctrl_r2",
    }


def test_template_naming_a_token_twice_is_rejected(spark, tmp_path):
    """``runs/[s]/[s].tsv`` gives a token two values per path: the
    planner and the loader both refuse it, naming the token."""
    from cirro_annotation_spark.manifest.model import load_manifest

    (tmp_path / "runs" / "A").mkdir(parents=True)
    (tmp_path / "runs" / "A" / "A.tsv").write_text("id\tval\nx\t1\n")
    with pytest.raises(ValueError, match=re.escape("token [s] appears more than once")):
        build_manifest(spark, str(tmp_path), variable_templates=["runs/[s]/[s].tsv"])
    with pytest.raises(ValueError, match=re.escape("params.source:")):
        load_manifest(
            {"commands": [{"params": {
                "source": "$data_directory/runs/[s]/[s].tsv", "target": "runs.parquet",
            }}]}
        )


def test_executor_rejects_escaping_targets(spark, tmp_path):
    """The whole manifest is checked before the first write: a bad
    command after a good one must not leave the good one written."""
    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    (tmp_path / "a.txt").write_text("id\n1\n")
    out = tmp_path / "out"

    def man(*targets):
        return Manifest(
            commands=tuple(
                TransformCommand(source="$data_directory/a.txt", target=t, cols=())
                for t in targets
            )
        )

    for targets, output, needle in (
        (["/abs/x.parquet"], out, "escapes"),
        (["../esc.parquet"], out, "escapes"),
        (["b.parquet", "../esc.parquet"], out, "escapes"),
        (["b.parquet", "./b.parquet"], out, "share"),
        (["b.parquet"], "objstore://bucket/out", "local directory"),
    ):
        with pytest.raises(ValueError, match=needle):
            execute_manifest(spark, man(*targets), str(tmp_path), str(output))
        assert not out.exists()


def test_load_manifest_validates_melt_and_kwargs_shapes():
    from cirro_annotation_spark.manifest.model import (
        ManifestValidationError,
        load_manifest,
    )

    base = {"source": "$data_directory/a.txt", "target": "a.parquet"}
    for bad_params, needle in (
        ({**base, "melt": "sample"}, "melt"),
        ({**base, "melt": {"key": "x"}}, "melt.key"),
        ({**base, "melt": {"value_cols": "c1"}}, "value_cols"),
        ({**base, "kwargs": "x"}, "kwargs"),
        ({**base, "kwargs": {"read": 5}}, "kwargs.read"),
        ({**base, "cols": [{"col": 5}]}, re.escape("params.cols[0].col:")),
        ({**base, "concat": [1]}, re.escape("params.concat[0]:")),
        ({**base, "concat": ["gene"]}, re.escape("params.concat:")),
        ({**base, "kwargs": {"read": {"sep": 1}}}, re.escape("params.kwargs.read.sep:")),
        ({**base, "kwargs": {"read": {"header": "no"}}}, re.escape("params.kwargs.read.header:")),
        ({**base, "melt": {"value_cols": [None]}}, re.escape("params.melt.value_cols[0]:")),
        (
            {**base, "melt": {"key": {"name": 1}, "value_cols": ["c1"]}},
            re.escape("params.melt.key.name:"),
        ),
    ):
        with pytest.raises(ManifestValidationError, match=needle):
            load_manifest(
                {"commands": [{"command": "hot.Parquet", "params": bad_params}]}
            )


def test_token_name_colliding_with_cols_spec_selected_once(spark, tmp_path):
    """A token that is also listed in cols must come out as ONE column
    carrying the token value (the reference's assignment overwrite),
    not a duplicate pair that fails at the sink (code-review r15)."""
    d = tmp_path / "mageck" / "G1"
    d.mkdir(parents=True)
    (d / "rra.txt").write_text("gene\tscore\nfiledata\t1\n")
    from cirro_annotation_spark.manifest.model import load_manifest

    man = load_manifest(
        {
            "commands": [
                {
                    "command": "hot.Parquet",
                    "params": {
                        "source": "$data_directory/mageck/[gene]/rra.txt",
                        "target": "rra.parquet",
                        "cols": [{"col": "gene"}, {"col": "score"}],
                        "concat": ["gene"],
                    },
                }
            ]
        }
    )
    df = compile_command(spark, man.commands[0], str(tmp_path))
    assert df.columns.count("gene") == 1
    assert df.first()["gene"] == "G1"  # token wins, like the reference


def test_execute_manifest_more_commands_than_workers(spark, tmp_path):
    """More commands than pool threads (at most 8): every target is
    written and the results come back in manifest order."""
    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    data = tmp_path / "data"
    data.mkdir()
    names = [f"t{i:02d}" for i in reversed(range(11))]
    for n in names:
        (data / f"{n}.txt").write_text(f"id\tname\n1\t{n}\n")
    manifest = Manifest(
        commands=tuple(
            TransformCommand(source=f"$data_directory/{n}.txt", target=f"{n}.parquet")
            for n in names
        )
    )
    out = str(tmp_path / "out")
    results = execute_manifest(spark, manifest, str(data), out)
    assert list(results) == [os.path.join(out, f"{n}.parquet") for n in names]
    for n, df in zip(names, results.values()):
        assert [tuple(r) for r in df.collect()] == [(1, n)]


def test_execute_manifest_without_pinned_threads(spark, manifest, data_dir, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(spark)``
    returns the session unchanged; every command still runs."""
    import cirro_annotation_spark.manifest.executor as executor

    monkeypatch.setattr(executor, "inheritable_thread_target", lambda f: f)
    results = execute_manifest(spark, manifest, data_dir, str(tmp_path / "out"))
    assert len(results) == len(manifest.commands)
    assert all(os.path.exists(t) for t in results)


# --- paths holding glob characters ------------------------------------------

def _write_tree(root, genes=("G1", "G2")):
    """A ``genes/[gene]/f.tsv`` family (the last member gzipped) and a
    standard file ``s.tsv`` under ``root``."""
    import gzip

    for i, gene in enumerate(genes):
        d = root / "genes" / gene
        d.mkdir(parents=True)
        text = f"id\tv\n{gene}-a\t{i}\n{gene}-b\t{i + 1}\n"
        if i == len(genes) - 1:
            with gzip.open(d / "f.tsv.gz", "wt") as f:
                f.write(text)
        else:
            (d / "f.tsv").write_text(text)
    (root / "s.tsv").write_text("k\tn\nx\t1\ny\t2\n")
    return root


def _rows(results):
    """{target basename: sorted rows} of an executed manifest."""
    return {
        os.path.basename(t): sorted(tuple(r) for r in df.collect())
        for t, df in results.items()
    }


@pytest.mark.parametrize(
    "name, sibling", [("run[x]", "runzz"), ("d[1-2]", "d1")], ids=["bracket_word", "char_class"]
)
def test_data_directory_name_is_literal(spark, tmp_path, name, sibling):
    """A data directory whose name holds glob characters is read as
    itself: ``[x]`` in it is no token, and no sibling that the name
    would match as a glob is read."""
    from cirro_annotation_spark.manifest import annotate

    templates = ["genes/[gene]/f.tsv"]
    _, expected = annotate(
        spark, str(_write_tree(tmp_path / "plain")), str(tmp_path / "o1"), templates
    )
    _write_tree(tmp_path / sibling, genes=("G1", "G2", "G9"))
    man, results = annotate(
        spark, str(_write_tree(tmp_path / name)), str(tmp_path / "o2"), templates
    )
    assert [c.tokens for c in man.commands] == [("gene",), ()]
    assert all("x" not in df.columns for df in results.values())
    assert _rows(results) == _rows(expected)


def test_file_uri_data_directory(spark, tmp_path):
    """A ``file://`` data directory lists through Hadoop and gives the
    rows the plain path gives; a missing standard file raises the same
    FileNotFoundError for both roots."""
    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    root = str(_write_tree(tmp_path / "data"))
    man = build_manifest(spark, root, variable_templates=["genes/[gene]/f.tsv"])
    expected = execute_manifest(spark, man, root, str(tmp_path / "o1"))
    results = execute_manifest(spark, man, "file://" + root, str(tmp_path / "o2"))
    assert _rows(results) == _rows(expected)

    missing = TransformCommand(source="$data_directory/none.tsv", target="none.parquet")
    for data_directory in (root, "file://" + root):
        with pytest.raises(FileNotFoundError):
            execute_manifest(spark, Manifest((missing,)), data_directory, str(tmp_path / "o3"))


def test_source_outside_the_data_directory_is_rejected(spark, tmp_path):
    """A source is a template under ``$data_directory/``; any other path
    is refused rather than read from wherever it points."""
    from cirro_annotation_spark.manifest.model import TransformCommand

    root = _write_tree(tmp_path / "data")
    cmd = TransformCommand(source=str(root / "s.tsv"), target="s.parquet")
    with pytest.raises(ValueError, match=re.escape("starts with $data_directory/")):
        compile_command(spark, cmd, str(root))


def test_member_directory_with_brackets(spark, tmp_path):
    """A member directory ``G[1]`` is read, and its token is ``G[1]``."""
    from cirro_annotation_spark.manifest.model import TransformCommand

    root = _write_tree(tmp_path / "data", genes=("G[1]", "G{2,3}*?"))
    cmd = TransformCommand(source="$data_directory/genes/[gene]/f.tsv", target="f.parquet")
    rows = {(r["id"], r["gene"]) for r in compile_command(spark, cmd, str(root)).collect()}
    assert rows == {
        ("G[1]-a", "G[1]"), ("G[1]-b", "G[1]"),
        ("G{2,3}*?-a", "G{2,3}*?"), ("G{2,3}*?-b", "G{2,3}*?"),
    }


def test_output_directory_with_brackets(spark, tmp_path):
    """Targets under ``out[1]`` are published and read back."""
    from cirro_annotation_spark.manifest import annotate

    root = str(_write_tree(tmp_path / "data"))
    _, results = annotate(spark, root, str(tmp_path / "out[1]"), ["genes/[gene]/f.tsv"])
    assert {os.path.basename(t): df.count() for t, df in results.items()} == {
        "f.parquet": 4, "s.parquet": 2,
    }


@pytest.mark.parametrize(
    "files, template, hidden",
    [
        (("_x.tsv", "z.tsv"), None, "_x.tsv"),
        ((".y.tsv", "z.tsv"), None, ".y.tsv"),
        (("runs/a.tsv", "runs/_b.tsv"), "runs/[run].tsv", "runs/_b.tsv"),
        (("._name.csv", "name.csv"), None, "._name.csv"),
    ],
    ids=["underscore", "dot", "family", "appledouble"],
)
def test_file_spark_skips_fails_loudly(spark, tmp_path, files, template, hidden):
    """A file Spark's reader skips as hidden (a leaf name starting with
    '.', or with '_' and no '=') raises, naming it, in ``annotate``
    before any write and in ``execute``, instead of losing its rows."""
    from cirro_annotation_spark.manifest import annotate
    from cirro_annotation_spark.manifest.model import Manifest, TransformCommand

    root = tmp_path / "data"
    for rel in files:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text("k\tn\nx\t1\n")
    out = tmp_path / "out"
    templates = [template] if template else []
    with pytest.raises(ValueError, match=re.escape(hidden)):
        annotate(spark, str(root), str(out), templates)
    assert not out.exists()

    cmd = TransformCommand(source=f"$data_directory/{template or hidden}", target="t.parquet")
    with pytest.raises(ValueError, match=re.escape(hidden)):
        execute_manifest(spark, Manifest((cmd,)), str(root), str(out))


def test_names_spark_reads_are_not_hidden(spark, tmp_path):
    """'_' with '=' in the leaf, and '_' or '.' in a directory name only,
    are read like any other file."""
    from cirro_annotation_spark.manifest import annotate

    root = tmp_path / "data"
    for rel in ("_k=1.tsv", "_dir/a.tsv", ".dot/b.tsv"):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text("k\tn\nx\t1\n")
    _, results = annotate(spark, str(root), str(tmp_path / "out"))
    assert {os.path.basename(t): df.count() for t, df in results.items()} == {
        "_k=1.parquet": 1, "a.parquet": 1, "b.parquet": 1,
    }


@pytest.mark.parametrize("kind", ["missing", "file", "uri"])
def test_data_directory_annotate_cannot_walk_raises(spark, tmp_path, kind):
    """``annotate`` raises for a data directory it cannot walk instead of
    returning an empty manifest; a URI root points to ``execute``."""
    from cirro_annotation_spark.manifest import annotate

    (tmp_path / "f.tsv").write_text("k\tn\nx\t1\n")
    root, error, match = {
        "missing": (str(tmp_path / "none"), FileNotFoundError, "does not exist"),
        "file": (str(tmp_path / "f.tsv"), NotADirectoryError, "not a directory"),
        "uri": ("s3a://nobucket/x", ValueError, "execute accepts URI"),
    }[kind]
    with pytest.raises(error, match=match):
        annotate(spark, root, str(tmp_path / "out"))


def test_doubled_quote_and_quoted_backslash_read_as_pandas_reads_them(spark, tmp_path):
    """RFC 4180 CSV: ``""`` inside a quoted field is one quote, and a
    backslash before the closing quote is a plain character."""
    import pandas as pd

    from cirro_annotation_spark.manifest import annotate

    root = tmp_path / "data"
    root.mkdir()
    (root / "e.csv").write_text('id,path,score\n1,"C:\\dir\\",0.5\n2,"say ""hi""",0.7\n')
    _, results = annotate(spark, str(root), str(tmp_path / "out"))
    (df,) = results.values()
    expected = pd.read_csv(root / "e.csv", sep=None, engine="python")
    assert df.columns == list(expected.columns)
    assert [tuple(r) for r in df.orderBy("id").collect()] == list(
        expected.itertuples(index=False, name=None)
    )
    assert expected["path"].tolist() == ["C:\\dir\\", 'say "hi"']


def test_standard_file_path_holding_a_token_raises(spark, tmp_path):
    """A discovered standard file whose relative path holds ``[word]``
    would be read as a template (``qc/[run]/s.tsv`` takes in
    ``qc/x/s.tsv`` too, so that row is written twice): ``annotate``
    raises, naming the file, before any write."""
    from cirro_annotation_spark.manifest import annotate

    root = tmp_path / "data"
    for rel, row in (("qc/[run]/s.tsv", "1\t2"), ("qc/x/s.tsv", "3\t4")):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(f"a\tb\n{row}\n")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=re.escape("qc/[run]/s.tsv")):
        annotate(spark, str(root), str(out))
    assert not out.exists()
