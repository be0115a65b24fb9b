"""HDF→Parquet conversion (north-star headline) exercised end-to-end with
the fake chunk iterator (h5py is not in this container — the decode step
is honestly gated; the Spark-side pipeline is real).
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cirro_annotation_spark.sources.hdf import (
    HAS_H5PY,
    hdf_chunks_to_parquet,
    iter_hdf_chunks,
)


def _chunks(n_chunks=4, rows=250):
    for c in range(n_chunks):
        yield pd.DataFrame(
            {
                "id": range(c * rows, (c + 1) * rows),
                "x": [float(i % 17) for i in range(rows)],
                "label": [f"c{c}" for _ in range(rows)],
            }
        )


def test_chunks_roundtrip_rowcount(spark, tmp_path):
    target = str(tmp_path / "hdf_out")
    out = hdf_chunks_to_parquet(spark, _chunks(), target)
    assert out.count() == 1000
    assert set(out.columns) == {"id", "x", "label"}
    # all chunks present (append, not last-write-wins)
    labels = {r["label"] for r in out.select("label").distinct().collect()}
    assert labels == {"c0", "c1", "c2", "c3"}


def test_target_with_brackets_reads_back(spark, tmp_path):
    """A target named ``m[1]`` is read back as itself, not as a glob."""
    out = hdf_chunks_to_parquet(spark, _chunks(2, rows=3), str(tmp_path / "m[1]"))
    assert sorted(r["id"] for r in out.collect()) == list(range(6))


def test_chunks_schema_drift_tolerated(spark, tmp_path):
    """A chunk missing a column contributes nulls (unionByName discipline
    via parquet schema merge)."""
    def drifting():
        yield pd.DataFrame({"id": [1, 2], "x": [1.0, 2.0]})
        yield pd.DataFrame({"id": [3, 4]})

    target = str(tmp_path / "hdf_drift")
    out = hdf_chunks_to_parquet(spark, drifting(), target)
    out = spark.read.option("mergeSchema", "true").parquet(target)
    assert out.count() == 4
    assert out.filter("x IS NULL").count() == 2


def test_partitioned_write(spark, tmp_path):
    target = str(tmp_path / "hdf_part")
    out = hdf_chunks_to_parquet(spark, _chunks(2), target, partition_by=["label"])
    assert out.count() == 500
    import os

    assert any(d.startswith("label=") for d in os.listdir(target))


def test_empty_iterator_raises(spark, tmp_path):
    with pytest.raises(ValueError):
        hdf_chunks_to_parquet(spark, iter(()), str(tmp_path / "none"))


def test_iter_hdf_chunks_gated():
    if not HAS_H5PY:
        with pytest.raises(NotImplementedError):
            next(iter_hdf_chunks("/nonexistent.h5", "ds"))


# --- parity with the createDataFrame path it replaced ----------------------
# Each case's schema and rows were recorded from the earlier sink, which
# sent every chunk through spark.createDataFrame and a Spark write job.
# Timestamps compare as strings in the session time zone (UTC).

def _mixed():
    yield pd.DataFrame({"i": [1, 2], "f": [0.5, np.nan], "b": [True, False],
                        "s": ["x", None], "n": pd.array([7, None], dtype="Int64")})
    yield pd.DataFrame({"i": [3], "f": [2.5], "b": [True], "s": ["z"],
                        "n": pd.array([None], dtype="Int64")})


def _times():
    yield pd.DataFrame({
        "naive": pd.to_datetime(["2021-03-04 05:06:07.123456", "2021-12-31 23:59:59.000001"]),
        "aware": pd.to_datetime(["2021-03-04 05:06:07.123456", "2021-07-01 00:00:00.5"])
        .tz_localize("Europe/Berlin"),
    })


def _int_labels():
    """What iter_hdf_chunks' pd.DataFrame(block) yields."""
    yield pd.DataFrame(np.arange(6, dtype="float64").reshape(3, 2))
    yield pd.DataFrame(np.arange(6, 10, dtype="float64").reshape(2, 2))


def _keyed():
    yield pd.DataFrame({"k": [1, 2, 1], "g": ["a", "b", "a"], "x": [0.5, 1.5, 2.5]})
    yield pd.DataFrame({"k": [2], "g": ["b"], "x": [3.5]})


def _unsigned_half():
    """HDF5 images and counts are often unsigned or half-float; Spark has
    no reader for either, and the earlier sink widened them."""
    yield pd.DataFrame({"u8": np.array([1, 255], dtype="uint8"),
                        "u16": np.array([2, 65535], dtype="uint16"),
                        "u32": np.array([3, 4294967295], dtype="uint32"),
                        "u64": np.array([4, 2**63 - 1], dtype="uint64"),
                        "h": np.array([0.5, 1.25], dtype="float16")})
    yield pd.DataFrame({"u8": np.array([7], dtype="uint8"), "u16": np.array([8], dtype="uint16"),
                        "u32": np.array([9], dtype="uint32"), "u64": np.array([10], dtype="uint64"),
                        "h": np.array([2.0], dtype="float16")})


def _unsigned_key():
    yield pd.DataFrame({"k": np.array([1, 2, 1], dtype="uint8"), "x": [0.5, 1.5, 2.5]})


PARITY = {
    "mixed": (_mixed, None, "struct<i:bigint,f:double,b:boolean,s:string,n:bigint>",
              [(1, 0.5, True, "x", 7), (2, None, False, None, None), (3, 2.5, True, "z", None)]),
    "timestamps": (_times, None, "struct<naive:timestamp,aware:timestamp>",
                   [("2021-03-04 05:06:07.123456", "2021-03-04 04:06:07.123456"),
                    ("2021-12-31 23:59:59.000001", "2021-06-30 22:00:00.5")]),
    "int_labels": (_int_labels, None, "struct<0:double,1:double>",
                   [(0.0, 1.0), (2.0, 3.0), (4.0, 5.0), (6.0, 7.0), (8.0, 9.0)]),
    "partition_int": (_keyed, ["k"], "struct<g:string,x:double,k:int>",
                      [("a", 0.5, 1), ("a", 2.5, 1), ("b", 1.5, 2), ("b", 3.5, 2)]),
    "partition_str": (_keyed, ["g"], "struct<k:bigint,x:double,g:string>",
                      [(1, 0.5, "a"), (1, 2.5, "a"), (2, 1.5, "b"), (2, 3.5, "b")]),
    "unsigned_half": (_unsigned_half, None,
                      "struct<u8:bigint,u16:bigint,u32:bigint,u64:bigint,h:double>",
                      [(1, 2, 3, 4, 0.5), (255, 65535, 4294967295, 2**63 - 1, 1.25),
                       (7, 8, 9, 10, 2.0)]),
    "partition_unsigned": (_unsigned_key, ["k"], "struct<x:double,k:int>",
                           [(0.5, 1), (1.5, 2), (2.5, 1)]),
}


def _shown_rows(df):
    cols = [F.col(f"`{f.name}`").cast("string") if f.dataType.typeName() == "timestamp"
            else F.col(f"`{f.name}`") for f in df.schema]
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("case", sorted(PARITY))
def test_chunks_match_create_dataframe_path(spark, tmp_path, case):
    chunks, partition_by, schema, rows = PARITY[case]
    target = str(tmp_path / case)
    out = hdf_chunks_to_parquet(spark, chunks(), target, partition_by=partition_by)
    assert out.schema.simpleString() == schema
    assert out.schema == spark.read.parquet(target).schema
    assert _shown_rows(out) == sorted(rows, key=repr)


def test_sub_microsecond_chunk_reads_nulls_and_bigint(spark, tmp_path):
    """Sub-microsecond timestamps are truncated to microseconds, and the
    chunk's NaN and pd.NA still read as null, its Int64 as bigint. (The
    createDataFrame path left Arrow for such a chunk: NaN stayed NaN and
    Int64 became double.)"""
    chunk = pd.DataFrame({"t": pd.to_datetime(["2021-01-01 00:00:00.123456789"]),
                          "f": [np.nan], "n": pd.array([None], dtype="Int64")})
    out = hdf_chunks_to_parquet(spark, iter([chunk]), str(tmp_path / "subus"))
    assert out.schema.simpleString() == "struct<t:timestamp,f:double,n:bigint>"
    assert _shown_rows(out) == [("2021-01-01 00:00:00.123456", None, None)]


@pytest.mark.parametrize("chunk, error", [
    (pd.DataFrame({"u64": np.array([1, 2**64 - 1], dtype="uint64")}), "not in range"),
    (pd.DataFrame({"p": pd.period_range("2021-01", periods=2, freq="M")}),
     "UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION"),
], ids=["uint64_overflow", "period"])
def test_unreadable_chunk_fails_before_swap(spark, tmp_path, chunk, error):
    """A value or type Spark cannot read raises before the swap: the
    target keeps its previous version and no staging debris."""
    target = str(tmp_path / "prev")
    hdf_chunks_to_parquet(spark, _chunks(1, rows=3), target)
    with pytest.raises(Exception, match=error):
        hdf_chunks_to_parquet(spark, iter([chunk]), target)
    assert os.listdir(tmp_path) == ["prev"]
    assert sorted(r["id"] for r in spark.read.parquet(target).collect()) == [0, 1, 2]


def test_incompatible_chunk_error_names_field_and_types(spark, tmp_path):
    def chunks():
        yield pd.DataFrame({"id": [1], "x": [0.5]})
        yield pd.DataFrame({"id": [2], "x": ["two"]})

    with pytest.raises(
        ValueError, match=r"^CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE: .*\bx\b.*double vs string"
    ):
        hdf_chunks_to_parquet(spark, chunks(), str(tmp_path / "bad"))


def test_column_null_in_early_chunks_takes_later_type(spark, tmp_path):
    """A column typed only by a later chunk takes that type; one null in
    every chunk has no type and is written nowhere."""
    def chunks():
        yield pd.DataFrame({"id": [1], "s": [None], "z": [None]})
        yield pd.DataFrame({"id": [2], "s": ["x"], "z": [None]})

    out = hdf_chunks_to_parquet(spark, chunks(), str(tmp_path / "late"))
    assert out.schema.simpleString() == "struct<id:bigint,s:string>"
    assert sorted(tuple(r) for r in out.collect()) == [(1, None), (2, "x")]


def test_conversion_launches_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "hdf-no-jobs")
    try:
        hdf_chunks_to_parquet(spark, _chunks(2), str(tmp_path / "nojobs"), partition_by=["label"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("hdf-no-jobs") == []
