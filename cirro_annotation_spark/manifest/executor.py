"""Execute a manifest: compile every command, sink each to Parquet.

The only sink the reference declares is ``hot.Parquet``
(run_annotate.py:188, 227). Each target is published through
``publish.py`` (staged write, rename pair), so a failed or killed run
leaves it as its previous version or the complete new one; the whole
manifest is checked before the first write. Each command's pipeline is
shuffle-free, so output parallelism equals scan parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cirro_annotation_spark.manifest.compiler import compile_command
from cirro_annotation_spark.manifest.model import Manifest
from cirro_annotation_spark.publish import publish


def _targets(manifest: Manifest, output_directory: str) -> list[str]:
    """Every command's output path, after checking the whole manifest."""
    # An object-store rename is a copy: refuse rather than publish
    # without the atomic swap.
    if "://" in output_directory:
        raise ValueError(
            f"manifest output must be a local directory: {output_directory!r}"
        )
    targets: list[str] = []
    seen: set[str] = set()
    for cmd in manifest.commands:
        # cmd.target is manifest input: confine it to output_directory
        # (an absolute or '..'-laden target would replace arbitrary
        # writable paths — code-review r15, same contract as
        # sources/remote.py's catalog-path validation).
        if os.path.isabs(cmd.target) or ".." in cmd.target.split("/"):
            raise ValueError(
                f"manifest target escapes the output directory: {cmd.target!r}"
            )
        target = os.path.join(output_directory, cmd.target)
        if os.path.normpath(target) in seen:
            raise ValueError(f"two manifest commands share target {cmd.target!r}")
        seen.add(os.path.normpath(target))
        targets.append(target)
    return targets


def execute_manifest(
    spark: SparkSession,
    manifest: Manifest,
    data_directory: str,
    output_directory: str,
) -> dict[str, DataFrame]:
    """Run every command; returns {target_path: result_df} for inspection.
    Each result reads its target with the compiled frame's schema, so no
    schema-inference job runs per target."""
    results: dict[str, DataFrame] = {}
    for cmd, target in zip(manifest.commands, _targets(manifest, output_directory)):
        df = compile_command(spark, cmd, data_directory)
        publish(target, df.write.parquet)
        results[target] = spark.read.schema(df.schema).parquet(target)
    return results
