"""Delimited-text reading: one head read per file decides the read contract.

The reference reads every file with ``pd.read_csv(sep=None,
engine='python')`` — csv.Sniffer separator detection — lowercases/dedups
the column names and concatenates the frames by name (run_annotate.py:
20-28, 48-49). Spark has no sniffer and maps fields to columns by
position, so :func:`sniff` reads the head of EVERY file once driver-side
(metadata-scale IO) and decides its separator and column names there;
:func:`read_dsv` scans files sharing both with an explicit ``sep``.
"""

from __future__ import annotations

import csv
import re
import zlib
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

SNIFF_BYTES = 4096
MAX_HEAD_BYTES = 16 << 20  # the first line must end within this
_SNIFF_DELIMS = [",", "\t", ";", "|"]


def _read_head_bytes(path: str, n: int, spark: SparkSession | None = None) -> bytes:
    """First ``n`` bytes of ``path`` through whatever filesystem owns it.

    Local paths use plain ``open`` (no JVM round-trip). Any path with a
    scheme (s3a://, hdfs://, abfss://, ...) goes through Spark's Hadoop
    FileSystem API — the same connectors the executor scan will use —
    so sniffing works against cloud storage, not only local disk.
    """
    if "://" not in path:
        with open(path, "rb") as f:
            return f.read(n)
    if spark is None:
        from cirro_annotation_spark.session import get_spark

        spark = get_spark("sniff")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    want = min(n, fs.getFileStatus(jpath).getLen())
    stream = fs.open(jpath)
    try:
        # commons-io ships with Hadoop; one bulk read, no per-byte py4j
        # round-trips (toByteArray(stream, len) is exact-length, hence
        # the getLen() clamp for short files).
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream, int(want))
        return bytes(data)
    finally:
        stream.close()


def _read_head(path: str, spark: SparkSession | None = None) -> tuple[bytes, bytes]:
    """``(head, first non-blank line)`` of ``path``, gz-aware.

    Spark takes the header from the first non-blank physical line, so a
    header wider than the sniff window (a matrix with thousands of
    sample columns) is read on in 8x steps up to MAX_HEAD_BYTES; a first
    line that still does not end raises instead of being cut.
    """
    n = SNIFF_BYTES
    while True:
        head = _read_head_bytes(path, n, spark)
        whole = len(head) < n
        if path.endswith(".gz"):
            # Decompress the head slice TOLERANTLY: a decompressobj
            # yields whatever the truncated stream holds instead of
            # raising at the cut (gzip.open semantics on a slice).
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            head = d.decompress(head, MAX_HEAD_BYTES)
            whole = whole and not d.unconsumed_tail
        lines = re.split(rb"\r\n|\r|\n", head)
        if not whole:
            lines.pop()  # may be cut mid-line
        line = next((ln for ln in lines if ln.strip()), b"" if whole else None)
        if line is not None:
            return head, line
        if n >= MAX_HEAD_BYTES:
            raise ValueError(f"{path}: the first line does not end within {n} bytes")
        n = min(n * 8, MAX_HEAD_BYTES)


def sniff(
    path: str, header: bool = True, sep: str | None = None, spark: SparkSession | None = None
) -> tuple[str, list[str]]:
    """``(separator, normalized column names)`` of one file, from one head
    read. ``sep=None`` detects the separator from the first SNIFF_BYTES:
    csv.Sniffer first, then a count-based vote (the Sniffer rejects
    single-column files the reference happily reads). Names are the ones
    Spark's CSV header gives (CSVUtils.makeSafeHeader: empty → ``_c<i>``,
    case-insensitive repeats get ``<i>``), normalized; ``header=False``
    names the fields ``_c0..``.
    """
    head, line = _read_head(path, spark)
    if sep is None:
        text = head[:SNIFF_BYTES].decode("utf-8", errors="replace")
        try:
            sep = csv.Sniffer().sniff(text, delimiters="".join(_SNIFF_DELIMS)).delimiter
        except csv.Error:
            first = text.splitlines()[0] if text.splitlines() else ""
            counts = {d: first.count(d) for d in _SNIFF_DELIMS}
            best = max(counts, key=lambda d: counts[d])
            sep = best if counts[best] > 0 else ","
    fields = next(csv.reader([line.decode("utf-8-sig", errors="replace")], delimiter=sep), [])
    if not header:
        return sep, [f"_c{i}" for i in range(len(fields))]
    repeats = Counter(f.lower() for f in fields if f)
    return sep, normalize_columns([
        f"_c{i}" if not f else f"{f}{i}" if repeats[f.lower()] > 1 else f
        for i, f in enumerate(fields)
    ])


def normalize_columns(cols: list[str]) -> list[str]:
    """trim + lowercase + first-wins dedup (run_annotate.py:48-49).

    Later duplicates get a __dupN suffix so the frame stays addressable;
    the reference simply dropped them via dict.fromkeys — callers that
    want that behavior select the unsuffixed names.
    """
    seen: dict[str, int] = {}
    out = []
    for c in cols:
        norm = c.strip().lower()
        if norm in seen:
            seen[norm] += 1
            out.append(f"{norm}__dup{seen[norm]}")
        else:
            seen[norm] = 0
            out.append(norm)
    return out


def read_dsv(
    spark: SparkSession, paths: str | list[str], sep: str, columns: list[str], header: bool = True
) -> DataFrame:
    """Scan files sharing one separator and one header (see :func:`sniff`)
    as a DataFrame named ``columns``. Spark maps fields by position, so
    callers group files by ``(sep, columns)`` and union groups by name.
    Types come from Spark's inferSchema pass (pandas infer_objects
    parity); gz is transparent to Spark's text source.
    """
    reader = spark.read.options(header=header, sep=sep, inferSchema=True, mode="PERMISSIVE")
    return reader.csv(paths).toDF(*columns)


def harvest_columns(spark: SparkSession, root: str, rel_paths: list[str]) -> dict[str, list[str]]:
    """Per-file column inventory (run_annotate.py:30-50) from one head read
    per file; no Spark job (``spark`` only serves scheme-qualified paths)."""
    return {rel: sniff(f"{root}/{rel}", spark=spark)[1] for rel in rel_paths}
