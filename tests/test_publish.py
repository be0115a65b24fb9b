"""Crash safety of the Parquet sinks (publish.py): a write job that
fails, a chunk iterator that raises, a chunk whose dtype cannot merge
and a kill between the two renames each leave the target as its
previous version or the complete new one — never partial, never empty.
"""
from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest import executor
from cirro_annotation_spark.manifest.executor import execute_manifest
from cirro_annotation_spark.manifest.model import Manifest, TransformCommand
from cirro_annotation_spark.sources.hdf import hdf_chunks_to_parquet

MANIFEST = Manifest(
    commands=(
        TransformCommand(source="$data_directory/a.txt", target="a.parquet"),
    )
)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _debris(target):
    """Siblings the protocol leaves behind: ``.old`` or ``.staging-*``."""
    parent, name = os.path.split(target)
    return sorted(d for d in os.listdir(parent) if d.startswith(name + "."))


class _ExecutorSink:
    def __init__(self, spark, tmp_path, monkeypatch):
        self.spark, self.monkeypatch = spark, monkeypatch
        self.data = str(tmp_path / "data")
        os.makedirs(self.data)
        with open(os.path.join(self.data, "a.txt"), "w") as f:
            f.write("id\tname\n1\tx\n2\ty\n")
        self.out = str(tmp_path / "out")
        self.target = os.path.join(self.out, "a.parquet")

    def publish(self):
        execute_manifest(self.spark, MANIFEST, self.data, self.out)

    def publish_failing(self):
        """The compiled frame fails inside the write job."""
        compile_command = executor.compile_command

        def failing(*args):
            boom = F.concat(F.lit("boom "), F.col("id").cast("string"))
            return compile_command(*args).withColumn("boom", F.raise_error(boom))

        with self.monkeypatch.context() as m:
            m.setattr(executor, "compile_command", failing)
            with pytest.raises(Exception, match="boom"):
                self.publish()


class _HdfSink:
    def __init__(self, spark, tmp_path, monkeypatch):
        self.spark = spark
        self.target = str(tmp_path / "matrix")

    def publish(self):
        chunk = pd.DataFrame({"id": [1, 2], "x": [0.5, 1.5]})
        hdf_chunks_to_parquet(self.spark, iter([chunk]), self.target)

    def publish_failing(self):
        def chunks():
            yield pd.DataFrame({"id": [3], "x": [2.5]})
            raise RuntimeError("reader died")

        with pytest.raises(RuntimeError, match="reader died"):
            hdf_chunks_to_parquet(self.spark, chunks(), self.target)


SINKS = {"executor": _ExecutorSink, "hdf": _HdfSink}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_failed_write_keeps_previous_target(spark, tmp_path, monkeypatch, sink):
    s = SINKS[sink](spark, tmp_path, monkeypatch)
    s.publish()
    before = _rows(spark, s.target)
    s.publish_failing()
    assert _rows(spark, s.target) == before
    assert _debris(s.target) == []


def _double_then_string():
    yield pd.DataFrame({"id": [3], "x": [2.5]})
    yield pd.DataFrame({"id": [4], "x": ["two"]})


def test_hdf_incompatible_chunk_raises_before_swap(spark, tmp_path):
    target = str(tmp_path / "matrix")
    hdf_chunks_to_parquet(
        spark, iter([pd.DataFrame({"id": [1, 2], "x": [0.5, 1.5]})]), target
    )
    with pytest.raises(Exception, match="CANNOT_MERGE"):
        hdf_chunks_to_parquet(spark, _double_then_string(), target)
    assert _rows(spark, target) == [(1, 0.5), (2, 1.5)]
    assert _debris(target) == []


@pytest.mark.parametrize("staged", ["complete", "absent"])
@pytest.mark.parametrize("sink", sorted(SINKS))
def test_kill_between_renames_recovers_on_next_publish(
    spark, tmp_path, monkeypatch, sink, staged
):
    """Simulated kill between rename(target -> .old) and rename(staging
    -> target). The next publish first rolls forward to a complete
    staging directory, or back to ``.old`` without one; its own write
    then fails, so the target shows which version recovery chose."""
    s = SINKS[sink](spark, tmp_path, monkeypatch)
    s.publish()
    before = _rows(spark, s.target)
    expected = before
    if staged == "complete":
        spark.read.parquet(s.target).orderBy("id").limit(1).write.parquet(
            s.target + ".staging-1"
        )
        expected = before[:1]
    else:  # a staging directory the kill left without _SUCCESS
        os.makedirs(s.target + ".staging-1")
    os.rename(s.target, s.target + ".old")

    s.publish_failing()
    assert _rows(spark, s.target) == expected
    assert not os.path.exists(s.target + ".old")

    s.publish()
    assert _rows(spark, s.target) == before
    assert _debris(s.target) == []


def test_failed_command_leaves_other_targets_published(spark, tmp_path, monkeypatch):
    """Commands run concurrently: a command failing inside its write job
    leaves its target at the previous version, every other command still
    publishes, and the failing command's own error is raised."""
    data, out = tmp_path / "data", str(tmp_path / "out")
    data.mkdir()
    names = ("a", "b", "c")
    manifest = Manifest(
        commands=tuple(
            TransformCommand(source=f"$data_directory/{n}.txt", target=f"{n}.parquet")
            for n in names
        )
    )

    def write_inputs(version):
        for n in names:
            (data / f"{n}.txt").write_text(f"id\tname\n{version}\t{n}\n")

    write_inputs(1)
    execute_manifest(spark, manifest, str(data), out)
    write_inputs(2)
    compile_command = executor.compile_command

    def failing(spark, cmd, data_directory, check=None):
        df = compile_command(spark, cmd, data_directory, check)
        if cmd.target != "b.parquet":
            return df
        return df.withColumn("boom", F.raise_error(F.concat(F.lit("boom "), F.col("name"))))

    monkeypatch.setattr(executor, "compile_command", failing)
    with pytest.raises(Exception, match="boom b"):
        execute_manifest(spark, manifest, str(data), out)
    targets = {n: os.path.join(out, f"{n}.parquet") for n in names}
    assert _rows(spark, targets["a"]) == [(2, "a")]
    assert _rows(spark, targets["b"]) == [(1, "b")]
    assert _rows(spark, targets["c"]) == [(2, "c")]
    assert _debris(targets["b"]) == []
