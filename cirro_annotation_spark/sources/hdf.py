"""HDF5 → Parquet batch conversion (the north star's named capability:
"DataFrame conversion from HDF to Parquet").

h5py/pytables are not in this container, so the HDF *decode* step is
gated behind an import-try; the conversion pipeline — chunked
driver-side iteration → one Arrow table per chunk → Parquet files
written by pyarrow into a staging directory → one publish of the whole
dataset (``publish.py``) — is real and tested via the fake in-memory
chunk iterator.

No Spark job runs until the result is read: each chunk goes straight
from pandas to Arrow to a Parquet file, with no JVM round trip, and the
chunks' Arrow schemas are unified on the driver as they arrive. A chunk
whose column type cannot merge with an earlier chunk's raises
``ValueError("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE: ...")`` before the
swap, so the previous version stays.

Scale design: HDF5 is a single-file, driver-readable format, so a single
file is read sequentially in row-group-sized chunks. Many HDF files
should fan out one task per file instead (``spark.createDataFrame`` on
the paths, then ``mapInArrow`` doing the h5py read and yielding Arrow
batches executor-side); that path needs h5py to test, so it stays a
design note.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from cirro_annotation_spark.publish import publish
from cirro_annotation_spark.sources.discovery import escape_glob

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


def _spark_type(t: pa.DataType) -> pa.DataType:
    """The Arrow type Spark can read for ``t``: unsigned integers widen
    to int64 and half floats to float64 (what ``createDataFrame`` made
    of them), a dictionary decodes to its value type."""
    if pa.types.is_dictionary(t):
        return _spark_type(t.value_type)
    if pa.types.is_unsigned_integer(t):
        return pa.int64()
    if pa.types.is_float16(t):
        return pa.float64()
    return t


def _to_arrow(pdf: pd.DataFrame, time_zone: str) -> pa.Table:
    """One chunk as an Arrow table typed as ``spark.createDataFrame``
    types it: NaN and ``pd.NA`` become null, a naive timestamp is
    wall-clock time in the session time zone (the ambiguous DST hour
    reads as standard time, as in PySpark), and types Spark has no
    reader for are widened by ``_spark_type``. The cast is safe: a
    uint64 value past the int64 range raises ``ArrowInvalid``."""
    naive = [c for c, s in pdf.items() if pd.api.types.is_datetime64_dtype(s.dtype)]
    if naive:
        pdf = pdf.copy(deep=False)
        for c in naive:
            pdf[c] = pdf[c].dt.tz_localize(time_zone, ambiguous=False)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    schema = pa.schema(f.with_type(_spark_type(f.type)) for f in table.schema)
    return table if schema == table.schema else table.cast(schema)


def hdf_chunks_to_parquet(
    spark: SparkSession,
    chunks: Iterator[pd.DataFrame],
    target: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Convert a chunk iterator to a single (hive-partitioned) Parquet
    dataset, launching no Spark job.

    Each chunk is converted with ``pa.Table.from_pandas`` (unsigned
    integers widen to bigint and half floats to double, as
    ``createDataFrame`` widened them) and written by
    pyarrow into one staging directory: snappy, microsecond timestamps
    (Spark rejects nanoseconds; finer digits are truncated), no
    dictionary encoding for floating-point columns (random doubles only
    grow under it). The chunks' schemas are unified as they arrive — a
    chunk missing a column reads null there, a conflicting type raises
    ``ValueError`` starting ``CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE``. The
    Spark schema is built from the unified one before the swap. The
    staging directory replaces ``target`` only after every chunk is
    written and converted, so a failing iterator or chunk, a uint64
    value past the int64 range or a type Spark cannot read leaves the
    previous version.

    Returns the target read with the unified schema; partition column
    types come from Spark's partition discovery, so the schema equals a
    fresh ``spark.read.parquet(target)``.
    """
    time_zone = spark.conf.get("spark.sql.session.timeZone")
    spark_schema = None

    def write(staging: str) -> None:
        nonlocal spark_schema
        schema = None
        for i, pdf in enumerate(chunks):
            table = _to_arrow(pdf, time_zone)
            try:
                schema = pa.unify_schemas([schema or table.schema, table.schema])
            except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
                raise ValueError(f"CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE: {e}") from e
            # A column null in this chunk has no type yet: leave it out
            # of the file, so it reads null under a later chunk's type.
            table = table.select(
                [f.name for f in table.schema if not pa.types.is_null(f.type)]
            )
            options = pads.ParquetFileFormat().make_write_options(
                compression="snappy",
                use_dictionary=[
                    f.name for f in table.schema if not pa.types.is_floating(f.type)
                ],
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            pads.write_dataset(
                table,
                staging,
                format="parquet",
                file_options=options,
                partitioning=partition_by,
                partitioning_flavor="hive",
                basename_template=f"part-{i:05d}-{{i}}.snappy.parquet",
                existing_data_behavior="overwrite_or_ignore",
            )
        if schema is None:
            raise ValueError("empty chunk iterator")
        # Partition columns are typed by Spark's partition discovery; a
        # column null in every chunk is in no file, so a fresh read
        # lacks it. Converting here, before the swap, means a type Spark
        # cannot read fails with the previous version still in place.
        skip = set(partition_by or ())
        spark_schema = from_arrow_schema(
            pa.schema(
                f for f in schema if f.name not in skip and not pa.types.is_null(f.type)
            )
        )

    publish(target, write)
    return spark.read.schema(spark_schema).parquet(escape_glob(target))

