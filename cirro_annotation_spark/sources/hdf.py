"""HDF5 → Parquet batch conversion (the north star's named capability:
"DataFrame conversion from HDF to Parquet").

h5py/pytables are not in this container, so the HDF *decode* step is
gated behind an import-try; the Spark-side conversion pipeline — chunked
driver-side iteration → per-chunk Arrow DataFrames → partitioned parquet
writes into a staging directory → one publish of the whole dataset
(``publish.py``) — is real and tested via the fake in-memory chunk
iterator.

Scale design: HDF5 is a single-file, driver-readable format, so ingest
parallelism comes from CHUNKING, not splitting: read the dataset in
row-group-sized chunks, createDataFrame each (Arrow path), append — each
chunk becomes ≥1 partition, so the write fans out across the cluster
even though the read is sequential. For many HDF files, parallelize at
the file level instead (one task per file via spark.createDataFrame on
paths + mapInPandas doing the h5py read executor-side).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cirro_annotation_spark.publish import publish

try:  # pragma: no cover - exercised only where h5py exists
    import h5py  # type: ignore

    HAS_H5PY = True
except ImportError:
    h5py = None
    HAS_H5PY = False


def iter_hdf_chunks(
    path: str, dataset: str, chunk_rows: int = 1_000_000
) -> Iterator[pd.DataFrame]:
    """Yield pandas chunks of an HDF5 dataset. Requires h5py."""
    if not HAS_H5PY:
        raise NotImplementedError(
            "h5py is not installed in this environment; "
            "use hdf_chunks_to_parquet with a custom chunk iterator"
        )
    with h5py.File(path, "r") as f:  # pragma: no cover
        ds = f[dataset]
        n = ds.shape[0]
        for start in range(0, n, chunk_rows):
            block = ds[start : start + chunk_rows]
            yield pd.DataFrame(block)


def hdf_chunks_to_parquet(
    spark: SparkSession,
    chunks: Iterator[pd.DataFrame],
    target: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Convert a chunk iterator to a single partitioned Parquet dataset.

    Arrow-backed createDataFrame per chunk, each APPENDED to one staging
    directory — an incremental-union plan would grow O(chunks) and
    bottleneck the driver; append keeps every chunk's plan a
    constant-size two-node write. The staging directory replaces
    ``target`` only after every chunk is written and the chunks' schemas
    merge, so a failing iterator or chunk leaves the previous version.
    """
    schema = None

    def write(staging: str) -> None:
        nonlocal schema
        for pdf in chunks:
            writer = spark.createDataFrame(pdf).write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staging)
        if not os.path.exists(staging):
            raise ValueError("empty chunk iterator")
        # mergeSchema: under chunk schema drift the default read samples
        # one footer and can silently omit drifted columns; merging
        # restores the union-of-columns guarantee. Column TYPES must stay
        # consistent across chunks (parquet cannot reconcile e.g. double
        # vs string): a chunk that breaks that fails here, before the swap.
        schema = spark.read.option("mergeSchema", "true").parquet(staging).schema

    publish(target, write)
    return spark.read.schema(schema).parquet(target)


def hdf_to_parquet(
    spark: SparkSession,
    path: str,
    dataset: str,
    target: str,
    chunk_rows: int = 1_000_000,
) -> DataFrame:
    """End-to-end HDF5 → Parquet (requires h5py at runtime)."""
    return hdf_chunks_to_parquet(
        spark, iter_hdf_chunks(path, dataset, chunk_rows), target
    )
