"""Delimited-text reading: one head read per file decides the read contract.

The reference reads every file with ``pd.read_csv(sep=None,
engine='python')`` — csv.Sniffer separator detection — lowercases/dedups
the column names and concatenates the frames by name (run_annotate.py:
20-28, 48-49). Spark has no sniffer and maps fields to columns by
position, so :func:`sniff_kinds` reads the head of EVERY file once
driver-side (metadata-scale IO) and decides its separator and column
names there. It also classifies each column's head values by pandas'
rule (bigint, then double, then string; booleans; pandas' default NA
tokens read as null), so no distributed inference pass is needed:
:func:`read_dsv` scans files sharing a separator and header with an
all-string schema, starting no job, and :func:`typed_sql` is the SQL
text that gives a string column its type.
"""

from __future__ import annotations

import csv
import re
import zlib
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from cirro_annotation_spark.sources.discovery import escape_glob

SNIFF_BYTES = 4096
MAX_HEAD_BYTES = 16 << 20  # the first line must end within this
_SNIFF_DELIMS = [",", "\t", ";", "|"]

# pandas' default ``na_values`` (pandas._libs.parsers.STR_NA_VALUES):
# these cells read as null in every column, whatever its type.
NA_TOKENS = (
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan", "1.#IND",
    "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None", "n/a", "nan", "null",
)
_NA_SQL = ", ".join(f"'{t}'" for t in NA_TOKENS)
_TRUE, _FALSE = ("True", "TRUE", "true"), ("False", "FALSE", "false")
_INT = re.compile(r"\s*[+-]?\d+\s*")
_FLOAT = re.compile(r"\s*[+-]?(?:(?:\d+\.?\d*|\.\d+)(?:e[+-]?\d+)?|inf|infinity)\s*", re.I)
# The same grammar as a Spark SQL (Java regex) literal, for typed_sql.
_FLOAT_SQL = "'(?i)^(?:" + _FLOAT.pattern.replace("\\", "\\\\") + ")$'"


def _read_head_bytes(path: str, n: int, spark: SparkSession | None = None) -> bytes:
    """First ``n`` bytes of ``path`` through whatever filesystem owns it.

    Local paths use plain ``open`` (no JVM round-trip). Any path with a
    scheme (s3a://, hdfs://, abfss://, ...) goes through Spark's Hadoop
    FileSystem API — the same connectors the executor scan will use —
    so sniffing works against cloud storage, not only local disk. Such
    a path needs the caller's session: a head read never starts one.
    """
    if "://" not in path:
        with open(path, "rb") as f:
            return f.read(n)
    if spark is None:
        raise ValueError(f"{path}: reading a scheme-qualified path needs a SparkSession")
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


def _read_head(path: str, spark: SparkSession | None = None) -> tuple[bytes, list[bytes]]:
    """``(head, its complete non-blank lines)`` of ``path``, gz-aware.

    Spark takes the header from the first non-blank physical line, so a
    header wider than the sniff window (a matrix with thousands of
    sample columns) is read on in 8x steps up to MAX_HEAD_BYTES, until
    a second line (a data row, for the column kinds) ends too; a first
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
        lines = [ln for ln in lines if ln.strip()]
        if len(lines) >= 2 or whole or (lines and n >= MAX_HEAD_BYTES):
            return head, lines
        if n >= MAX_HEAD_BYTES:
            raise ValueError(f"{path}: the first line does not end within {n} bytes")
        n = min(n * 8, MAX_HEAD_BYTES)


def sniff_kinds(
    path: str, header: bool = True, sep: str | None = None, spark: SparkSession | None = None
) -> tuple[str, list[str], dict[str, str | None]]:
    """``(separator, normalized column names, {name: kind})`` of one file,
    from one head read. ``sep=None`` detects the separator from the first
    SNIFF_BYTES: csv.Sniffer first, then a count-based vote (the Sniffer
    rejects single-column files the reference happily reads). Names are
    the ones Spark's CSV header gives (CSVUtils.makeSafeHeader: empty →
    ``_c<i>``, case-insensitive repeats get ``<i>``), normalized;
    ``header=False`` names the fields ``_c0..``. A column's kind (see
    :func:`join_kind`) covers the head's complete data rows; it is None
    when they hold no value for it.
    """
    head, lines = _read_head(path, spark)
    if sep is None:
        text = head[:SNIFF_BYTES].decode("utf-8", errors="replace")
        try:
            sep = csv.Sniffer().sniff(text, delimiters="".join(_SNIFF_DELIMS)).delimiter
        except csv.Error:
            first = text.splitlines()[0] if text.splitlines() else ""
            counts = {d: first.count(d) for d in _SNIFF_DELIMS}
            best = max(counts, key=lambda d: counts[d])
            sep = best if counts[best] > 0 else ","
    # One record per physical line, as Spark's reader (multiLine off) splits them.
    rows = [
        next(csv.reader([ln.decode("utf-8-sig", errors="replace")], delimiter=sep), [])
        for ln in lines
    ]
    fields = rows[0] if rows else []
    if not header:
        columns = [f"_c{i}" for i in range(len(fields))]
    else:
        repeats = Counter(f.lower() for f in fields if f)
        columns = normalize_columns([
            f"_c{i}" if not f else f"{f}{i}" if repeats[f.lower()] > 1 else f
            for i, f in enumerate(fields)
        ])
        rows = rows[1:]
    kinds: dict[str, str | None] = dict.fromkeys(columns)
    for row in rows:
        for name, value in zip(columns, row):
            kinds[name] = join_kind(kinds[name], _kind(value))
    return sep, columns, kinds


def _kind(value: str) -> str:
    """pandas' ``read_csv`` reading of one cell: ``null`` for an NA token."""
    if value in NA_TOKENS:
        return "null"
    if _INT.fullmatch(value):
        # pandas leaves an integer past int64 as text (object)
        return "bigint" if -(1 << 63) <= int(value) < 1 << 63 else "string"
    if _FLOAT.fullmatch(value):
        return "double"
    if value in _TRUE or value in _FALSE:
        return "boolean"
    return "string"


def join_kind(a: str | None, b: str | None) -> str | None:
    """The kind of one column holding values of kinds ``a`` and ``b``, as
    pandas' column inference and ``concat`` decide it: NA cells (``null``)
    and absent values (None) defer to the rest, bigint widens to double,
    any other mix is string. Unlike pandas, NA cells do not turn a bigint
    or boolean column into float or object: they stay nulls of its type.
    """
    for x, y in ((a, b), (b, a)):
        if x is None or x == "null":
            return x if y is None else y
    if a == b:
        return a
    return "double" if {a, b} == {"bigint", "double"} else "string"


def column_type(kind: str | None) -> str:
    """The type a column of ``kind`` is written as: an all-NA column is
    double (pandas' float64 NaN column), one without values a string."""
    return {None: "string", "null": "double"}.get(kind, kind)


def quote_name(name: str) -> str:
    """``name`` as a SQL identifier (backtick-quoted, so dots and spaces stay in the name)."""
    return "`" + name.replace("`", "``") + "`"


def typed_sql(name: str, type_: str) -> str:
    """SQL text of the string column ``name`` read as ``type_`` (a
    :func:`column_type` value): NA tokens are null, and a value the type
    cannot hold is null too (``try_cast``; booleans take only pandas'
    spellings, doubles only pandas' float grammar: ``try_cast`` also
    reads Java's suffixed ``1.5d`` and ``2F``, which pandas keeps as text)."""
    col = quote_name(name)
    if type_ == "boolean":
        return (
            f"CASE WHEN {col} IN {_TRUE} THEN true "
            f"WHEN {col} IN {_FALSE} THEN false END"
        )
    if type_ == "double":  # no NA token matches the float grammar
        text = f"IF({col} RLIKE {_FLOAT_SQL}, {col}, NULL)"
    else:
        text = f"IF({col} IN ({_NA_SQL}), NULL, {col})"
    return text if type_ == "string" else f"try_cast({text} AS {type_.upper()})"


def normalize_name(c: str) -> str:
    """The one column-name rule: trim + lowercase (run_annotate.py:48)."""
    return c.strip().lower()


def normalize_columns(cols: list[str]) -> list[str]:
    """:func:`normalize_name` + first-wins dedup (run_annotate.py:48-49).

    Later duplicates get a __dupN suffix so the frame stays addressable;
    the reference simply dropped them via dict.fromkeys — callers that
    want that behavior select the unsuffixed names.
    """
    seen: dict[str, int] = {}
    out = []
    for c in cols:
        norm = normalize_name(c)
        if norm in seen:
            seen[norm] += 1
            out.append(f"{norm}__dup{seen[norm]}")
        else:
            seen[norm] = 0
            out.append(norm)
    return out


def read_dsv(
    spark: SparkSession, paths: list[str], sep: str, columns: list[str], header: bool = True
) -> DataFrame:
    """Scan files sharing one separator and one header (see
    :func:`sniff_kinds`) as a DataFrame of string columns named
    ``columns``; the explicit schema means no job starts until the frame
    runs. Spark maps fields by position, so callers group files by
    ``(sep, columns)`` and union groups by name; types come from
    :func:`typed_sql` over the kinds the head reads gave. gz is
    transparent to Spark's text source. Each path is read as itself,
    never as a glob. As in pandas and Python's ``csv`` (the head read),
    ``""`` in a quoted field is one quote and a backslash is an ordinary
    character: Spark's default escape is ``\\``.
    """
    schema = StructType([StructField(c, StringType()) for c in columns])
    reader = spark.read.schema(schema).options(
        header=header, sep=sep, escape='"', mode="PERMISSIVE"
    )
    return reader.csv([escape_glob(p) for p in paths])


def harvest_columns(spark: SparkSession, root: str, rel_paths: list[str]) -> dict[str, list[str]]:
    """Per-file column inventory (run_annotate.py:30-50) from one head read
    per file; no Spark job (``spark`` only serves scheme-qualified paths)."""
    return {rel: sniff_kinds(f"{root}/{rel}", spark=spark)[1] for rel in rel_paths}
