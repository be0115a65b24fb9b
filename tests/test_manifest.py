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
    extract_tokens,
    java_safe_regex,
    token_template_to_glob,
    token_template_to_regex,
)
from cirro_annotation_spark.manifest.executor import execute_manifest
from cirro_annotation_spark.manifest.fixtures import (
    FIELDS_DICTIONARY,
    GENES,
    build_fixture_tree,
)
from cirro_annotation_spark.manifest.model import load_manifest
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
    assert m and m.group("gene") == "GENE_A"
    # dots in the template are literal, not wildcards
    assert not re.fullmatch(regex, "data/mageck/GENE_A/rraXsgrna_summary.txt")
    # tokens match exactly one path segment
    assert not re.fullmatch(regex, "data/mageck/a/b/rra.sgrna_summary.txt")


def test_java_safe_regex_is_java_compatible():
    regex = token_template_to_regex("data/[a]/x_[b].txt")
    safe = java_safe_regex(regex)
    assert "?P<" not in safe
    # positional groups preserved in order
    m = re.fullmatch(safe, "data/A1/x_B2.txt")
    assert m and m.group(1) == "A1" and m.group(2) == "B2"


def test_template_glob():
    assert token_template_to_glob("d/[g]/f_[x].txt") == "d/*/f_*.txt"


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


def test_execute_manifest_returns_targets_without_inference_jobs(
    spark, manifest, data_dir, tmp_path
):
    """Each returned frame has the schema a fresh read of its target
    gives, and execute_manifest launches exactly the jobs of compiling
    and writing its commands: reading a target back infers nothing."""
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def compile_and_write():
        for cmd in manifest.commands:
            compile_command(spark, cmd, data_dir).write.parquet(
                str(tmp_path / "direct" / cmd.target)
            )

    results = {}
    direct = jobs("direct-writes", compile_and_write)
    executed = jobs(
        "execute-manifest",
        lambda: results.update(
            execute_manifest(spark, manifest, data_dir, str(tmp_path / "out"))
        ),
    )
    assert executed == direct > 0
    for target, df in results.items():
        assert df.schema == spark.read.parquet(target).schema


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
