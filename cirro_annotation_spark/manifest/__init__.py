"""The manifest layer: the reference's declarative transform IR, compiled
to Spark DataFrame pipelines.

Reference contract (run_annotate.py:177-253, 314-326; manifest.schema.json;
json/example/transform.json): a manifest is a list of commands, each
``{"command": "hot.Parquet", "params": {source, target, name, desc, cols,
concat?, melt?, kwargs?}}``. This package parses/validates that shape
(model), compiles each command to a lazy DataFrame chain (compiler),
generates manifests from raw directory trees non-interactively (planner),
and executes them to Parquet (executor).
"""

from cirro_annotation_spark.manifest.compiler import compile_command, token_template_to_regex
from cirro_annotation_spark.manifest.executor import execute_manifest
from cirro_annotation_spark.manifest.model import (
    ColumnSpec,
    Manifest,
    MeltSpec,
    TransformCommand,
)
from cirro_annotation_spark.manifest.optimizer import optimize_manifest
from cirro_annotation_spark.manifest.planner import build_manifest

__all__ = [
    "ColumnSpec",
    "Manifest",
    "MeltSpec",
    "TransformCommand",
    "annotate",
    "build_manifest",
    "compile_command",
    "execute_manifest",
    "optimize_manifest",
    "token_template_to_regex",
]


def annotate(
    spark,
    data_directory: str,
    output_directory: str,
    variable_templates=(),
    melt_groups=None,
    dictionary=None,
    process: str = "*",
):
    """One-call equivalent of the reference's full ``annotate`` flow
    (run_annotate.py:257-326) with the prompts replaced by arguments:
    walk → classify variable families → harvest → resolve dictionary →
    build manifest → optimize → execute to Parquet.

    Returns (manifest, {target_path: DataFrame})."""
    m = build_manifest(
        spark,
        data_directory,
        variable_templates=variable_templates,
        melt_groups=melt_groups,
        dictionary=dictionary,
        process=process,
    )
    m = optimize_manifest(m)
    results = execute_manifest(spark, m, data_directory, output_directory)
    return m, results
