"""Execute a manifest: compile every command, sink each to Parquet.

The only sink the reference declares is ``hot.Parquet``
(run_annotate.py:188, 227). Each target is published through
``publish.py`` (staged write, rename pair), so a failed or killed run
leaves it as its previous version or the complete new one; the whole
manifest is checked before the first write. Each command's pipeline is
shuffle-free, so output parallelism equals scan parallelism.

Compiling starts no Spark job, so each target costs one write job. The
column types were frozen from the head reads; the write job also counts,
through a :class:`~cirro_annotation_spark.manifest.compiler.TypeCheck`,
the values a frozen type cannot hold. If it finds any, exactly those
columns are widened and the staging directory is written once more
before the swap, so a type that drifts after the head gets pandas'
type instead of silent nulls.

Commands run concurrently, each compile → publish → read-back on its
own thread, so one command's driver work (head reads, planning,
renames) overlaps another's running job. The pool has
``min(len(commands), defaultParallelism, 8)`` threads: more would only
queue jobs the cluster cannot run, and 8 bounds the driver's OS threads
and Py4J connections on a cluster whose default parallelism runs to
thousands. In PySpark's default pinned-thread mode, job groups, local
properties and tags reach the threads.
Every command runs to completion; if any failed, the failure of the
first failing command in manifest order is raised after all finished.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from cirro_annotation_spark.manifest.compiler import TypeCheck, compile_command
from cirro_annotation_spark.manifest.model import Manifest
from cirro_annotation_spark.publish import publish
from cirro_annotation_spark.sources.discovery import escape_glob


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
        # writable paths — code-review r15).
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
    """Run every command; returns {target_path: result_df} in manifest
    order. Each result reads its target with the compiled frame's
    schema, so no schema-inference job runs per target."""
    targets = _targets(manifest, output_directory)

    def run(cmd, target: str) -> DataFrame:
        check = TypeCheck()
        df = compile_command(spark, cmd, data_directory, check)

        def write(staging: str) -> None:
            nonlocal df
            df.write.parquet(staging)
            if check.widen():
                df = compile_command(spark, cmd, data_directory, check)
                df.write.mode("overwrite").parquet(staging)

        publish(target, write)
        return spark.read.schema(df.schema).parquet(escape_glob(target))

    # Without pinned-thread mode (PYSPARK_PIN_THREAD=false) PySpark has
    # no per-thread properties to copy and returns the session itself;
    # ``run`` is then submitted as it is.
    wrap = inheritable_thread_target(spark)
    task = run if wrap is spark else wrap(run)
    workers = min(len(targets), spark.sparkContext.defaultParallelism, 8)
    with ThreadPoolExecutor(max_workers=max(workers, 1)) as pool:
        futures = [
            pool.submit(task, cmd, target)
            for cmd, target in zip(manifest.commands, targets)
        ]
    return {target: f.result() for target, f in zip(targets, futures)}
