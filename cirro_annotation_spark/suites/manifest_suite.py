"""Manifest-pipeline queries: the reference's entire declared capability
run end-to-end (SURVEY.md §3.2) on the FIXTURES.md §B DSV tree.

The fixture tree lives at a STABLE path so the DuckDB oracle can
read_csv the very same files the Spark pipeline reads — upgrading these
from rows-only to exact hash checks. Golden pytest coverage is in
tests/test_manifest.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest.compiler import compile_command
from cirro_annotation_spark.manifest.fixtures import (
    FIELDS_DICTIONARY,
    build_fixture_tree,
)
from cirro_annotation_spark.manifest.planner import build_manifest
from cirro_annotation_spark.registry import query

# Stable, deterministic fixture location (content is seed-free arithmetic,
# so rebuilds are byte-identical; the marker gates a finished build).
FIXTURE_ROOT = "/tmp/cirro_annotation_fixture"
_MARKER = os.path.join(FIXTURE_ROOT, ".complete")


def fixture_data_dir() -> str:
    """Build (once) the FIXTURES.md §B tree at the stable path."""
    data = os.path.join(FIXTURE_ROOT, "data")
    if not os.path.exists(_MARKER):
        build_fixture_tree(FIXTURE_ROOT)
        with open(_MARKER, "w") as f:
            f.write("ok\n")
    return data


# Build at import: the driver may evaluate an oracle (which read_csv's
# these files) before it calls the paired Spark query.
fixture_data_dir()


def _manifest(spark: SparkSession):
    return build_manifest(
        spark,
        fixture_data_dir(),
        variable_templates=["mageck/[gene]/rra.sgrna_summary.txt"],
        melt_groups={
            "mageck/count/combined/counts.txt": [
                "ctrl_r1",
                "ctrl_r2",
                "treat_r1",
                "treat_r2",
            ]
        },
        dictionary=FIELDS_DICTIONARY,
    )


def _command(spark: SparkSession, target: str):
    for cmd in _manifest(spark).commands:
        if cmd.target == target:
            return cmd
    raise KeyError(target)


@query(
    "manifest_variable_family",
    # DuckDB reads the SAME fixture files (glob incl. the gz member) and
    # re-derives the [gene] token from the path — exact union parity.
    oracle=f"""
    SELECT sgrna, score, "p.low", "p.high", "p.twosided", fdr, lfc,
           regexp_extract(filename, 'mageck/([^/]+)/', 1) AS gene
    FROM read_csv('{FIXTURE_ROOT}/data/mageck/*/rra.sgrna_summary.txt*',
                  delim='\t', header=true, filename=true)
    ORDER BY gene, sgrna
    """,
)
def manifest_variable_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_glob_tokens + the compiler's token union: the 3-gene family
    unions into one frame with the [gene] path token as a column
    (150 rows = 3×50)."""
    cmd = _command(spark, "rra_sgrna_summary.parquet")
    return compile_command(spark, cmd, fixture_data_dir()).orderBy("gene", "sgrna")


@query(
    "manifest_melt_standard",
    # Melt re-expressed as a 4-way UNION ALL; TRY_CAST mirrors the
    # engine's to_numeric(errors='coerce') parity (the 'NA' cell → NULL).
    oracle=f"""
    WITH src AS (SELECT * FROM read_csv('{FIXTURE_ROOT}/data/mageck/count/combined/counts.txt',
                                        delim='\t', header=true, all_varchar=true))
    SELECT "sgRNA" AS sgrna, "Gene" AS gene, sample, reads FROM (
      SELECT "sgRNA", "Gene", 'ctrl_r1' AS sample, TRY_CAST(ctrl_r1 AS DOUBLE) AS reads FROM src
      UNION ALL
      SELECT "sgRNA", "Gene", 'ctrl_r2', TRY_CAST(ctrl_r2 AS DOUBLE) FROM src
      UNION ALL
      SELECT "sgRNA", "Gene", 'treat_r1', TRY_CAST(treat_r1 AS DOUBLE) FROM src
      UNION ALL
      SELECT "sgRNA", "Gene", 'treat_r2', TRY_CAST(treat_r2 AS DOUBLE) FROM src
    )
    ORDER BY sgrna, sample
    """,
)
def manifest_melt_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_dsv_sniffed + normalize + project_rename + melt_unpivot: the
    counts file folds 4 sample columns into (sample, reads) long form."""
    cmd = _command(spark, "counts.parquet")
    return compile_command(spark, cmd, fixture_data_dir()).orderBy(
        "sgrna", "sample"
    )


@query(
    "manifest_project_dictionary",
    oracle=f"""
    SELECT sample, reads, mapped, percentage, zerocounts, giniindex
    FROM read_csv('{FIXTURE_ROOT}/data/mageck/count/summary.csv', header=true)
    ORDER BY sample
    """,
)
def manifest_project_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-resolved projection of the summary CSV (sniffed comma sep)."""
    cmd = _command(spark, "summary.parquet")
    return compile_command(spark, cmd, fixture_data_dir()).orderBy("sample")


_HARVEST_GOLDEN = " UNION ALL ".join(
    f"SELECT '{f}' AS file, '{c}' AS column"
    for f, cols in [
        ("mageck/GENE_A/rra.sgrna_summary.txt",
         ["fdr", "lfc", "p.high", "p.low", "p.twosided", "score", "sgrna"]),
        ("mageck/GENE_B/rra.sgrna_summary.txt",
         ["fdr", "lfc", "p.high", "p.low", "p.twosided", "score", "sgrna"]),
        ("mageck/GENE_C/rra.sgrna_summary.txt.gz",
         ["fdr", "lfc", "p.high", "p.low", "p.twosided", "score", "sgrna"]),
        ("mageck/count/combined/counts.txt",
         ["ctrl_r1", "ctrl_r2", "gene", "sgrna", "treat_r1", "treat_r2"]),
        ("mageck/count/summary.csv",
         ["giniindex", "mapped", "percentage", "reads", "sample", "zerocounts"]),
    ]
    for c in cols
)


@query(
    "manifest_harvest_columns",
    # Golden inventory: the fixture tree is deterministic, so the expected
    # (file, normalized column) catalog is a literal table.
    oracle=f"SELECT * FROM ({_HARVEST_GOLDEN}) ORDER BY file, \"column\"",
)
def manifest_harvest_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """harvest_columns + discover_files as a queryable frame
    (file → normalized column inventory, run_annotate.py:30-50)."""
    from cirro_annotation_spark.sources.discovery import discover_files
    from cirro_annotation_spark.sources.dsv import harvest_columns

    data = fixture_data_dir()
    files = discover_files(data)
    harvested = harvest_columns(spark, data, files)
    rows = [(f, c) for f, cols in sorted(harvested.items()) for c in cols]
    return spark.createDataFrame(rows, "file string, column string").orderBy(
        "file", "column"
    )


@query(
    "manifest_file_to_columns",
    # Golden: the 5 fixture files joined (broadcast) to their harvested
    # column counts — run_annotate.py:273-276's files_mapping lookup as a
    # real join.
    oracle="""
    SELECT * FROM (
      SELECT 'mageck/GENE_A/rra.sgrna_summary.txt' AS file, 7 AS n_columns, 'fdr' AS first_column
      UNION ALL SELECT 'mageck/GENE_B/rra.sgrna_summary.txt', 7, 'fdr'
      UNION ALL SELECT 'mageck/GENE_C/rra.sgrna_summary.txt.gz', 7, 'fdr'
      UNION ALL SELECT 'mageck/count/combined/counts.txt', 6, 'ctrl_r1'
      UNION ALL SELECT 'mageck/count/summary.csv', 6, 'giniindex'
    ) ORDER BY file
    """,
)
def manifest_file_to_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_file_to_columns (SURVEY §2.4): the discovered file list
    broadcast-joined to the harvested per-file column inventory."""
    from cirro_annotation_spark.sources.discovery import discover_files
    from cirro_annotation_spark.sources.dsv import harvest_columns

    data = fixture_data_dir()
    files = discover_files(data)
    harvested = harvest_columns(spark, data, files)
    files_df = spark.createDataFrame([(f,) for f in sorted(files)], "file string")
    cols_df = spark.createDataFrame(
        [(f, c) for f, cols in harvested.items() for c in cols],
        "file string, column string",
    )
    return (
        files_df.join(F.broadcast(cols_df), "file", "left")
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_columns"),
            F.min("column").alias("first_column"),
        )
        .orderBy("file")
    )


@query(
    "manifest_roundtrip_tokens",
    oracle="""
    SELECT 'GENE_A' AS gene, 50 AS n_rows
    UNION ALL SELECT 'GENE_B', 50
    UNION ALL SELECT 'GENE_C', 50
    ORDER BY gene
    """,
)
def manifest_roundtrip_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check as a query: [tok] template → regex → extracted values
    equals the values the glob saw (run_annotate.py:133-144 semantics)."""
    cmd = _command(spark, "rra_sgrna_summary.parquet")
    df = compile_command(spark, cmd, fixture_data_dir())
    return df.groupBy("gene").agg(F.count(F.lit(1)).alias("n_rows")).orderBy("gene")


@query(
    "dataset_chooser_newest_first",
    # The reference's ask_dataset surface (ask_dataset.py:16: sort by
    # created_at reverse; :21 label "{name} - {id}") as a query over the
    # orders table standing in for a dataset registry (orderpriority = dataset
    # name, orderkey = id, orderdate = created_at).
    oracle="""
    SELECT o_orderpriority || ' - ' || o_orderkey AS label,
           o_orderkey AS dataset_id,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS created_day
    FROM orders
    ORDER BY o_orderdate DESC, dataset_id DESC
    LIMIT 50
    """,
)
def dataset_chooser_newest_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-first labeled dataset listing (non-interactive ask_dataset
    parity): top-50 under a limit → TakeOrderedAndProject, no global sort."""
    from cirro_annotation_spark.sources.datasets import newest_first_listing

    from cirro_annotation_spark.suites.util import t

    o = t(spark, sf_dir, "orders")
    return newest_first_listing(
        o, "o_orderpriority", "o_orderkey", "o_orderdate", limit=50
    )


# ---------------------------------------------------------------------------
# JSONL source (§2.1 extension): newline-delimited JSON with an explicit
# schema — the other lakehouse interchange format next to DSV/parquet.
# Deterministic fixture so the oracle reads the very same file.
# ---------------------------------------------------------------------------
_JSONL_PATH = os.path.join(FIXTURE_ROOT, "jsonl", "records.jsonl")


def _jsonl_fixture() -> str:
    if not os.path.exists(_JSONL_PATH):
        os.makedirs(os.path.dirname(_JSONL_PATH), exist_ok=True)
        import json as _json

        tmp = _JSONL_PATH + ".tmp"
        with open(tmp, "w") as f:
            for i in range(200):
                f.write(
                    _json.dumps(
                        {
                            "rec_id": i,
                            "score": round(i * 0.5, 1),
                            "tag": f"t{i % 5}",
                            "nested": {"a": i % 7, "b": f"v{i % 3}"},
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )
        os.replace(tmp, _JSONL_PATH)
    return _JSONL_PATH


_jsonl_fixture()  # the driver may run the oracle before the Spark query


@query(
    "scan_jsonl_typed",
    oracle=f"""
    SELECT rec_id, score, tag, nested.a AS nested_a, nested.b AS nested_b
    FROM read_json('{_JSONL_PATH}', format='newline_delimited',
                   columns={{'rec_id': 'BIGINT', 'score': 'DOUBLE',
                             'tag': 'VARCHAR',
                             'nested': 'STRUCT(a BIGINT, b VARCHAR)'}})
    WHERE tag <> 't3'
    """,
)
def scan_jsonl_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL scan with an EXPLICIT schema (never inferSchema at scale —
    inference is a second full pass over 100 TB) + nested-struct
    projection + a pushdown-able predicate."""
    path = _jsonl_fixture()
    df = spark.read.schema(
        "rec_id long, score double, tag string, nested struct<a: long, b: string>"
    ).json(path)
    return (
        df.filter(F.col("tag") != "t3")
        .select(
            "rec_id",
            "score",
            "tag",
            F.col("nested.a").alias("nested_a"),
            F.col("nested.b").alias("nested_b"),
        )
    )
