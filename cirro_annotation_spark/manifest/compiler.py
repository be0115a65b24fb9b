"""Compile manifest commands to lazy DataFrame pipelines.

Pipeline per command (the reference's declared execution contract,
SURVEY.md §3.2):

    glob(source) → read DSV members by name (kwargs.read) as strings →
    token columns from path regex → project+rename to cols, each column
    cast to the type its members' head reads gave → melt if specified →
    caller sinks to Parquet.

Scale design: files sharing a separator and a header are ONE multi-path
scan, not N per-file jobs — tokens come from ``regexp_extract(
input_file_name())`` executor-side, so a uniform 100k-file family plans
as a single FileScan; differing members add one scan per (sep, header)
group, unioned by name. Every scan has an explicit all-string schema and
the types are frozen from the head reads the compiler already makes, so
compiling starts no Spark job: the casts are one SQL-text projection.
A later value its frozen type cannot hold reads null there; the
executor's write counts such values with a :class:`TypeCheck` and
rewrites with the widened type. The pipeline is shuffle-free (scan →
project → expand → write), i.e. embarrassingly parallel at any scale.
"""

from __future__ import annotations

import glob as globmod
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest.model import TOKEN_RE, TransformCommand, extract_tokens
from cirro_annotation_spark.operators.reshape import melt as melt_op
from cirro_annotation_spark.operators.reshape import union_by_name
from cirro_annotation_spark.sources.dsv import (
    column_type,
    join_kind,
    normalize_columns,
    normalize_name,
    quote_name,
    read_dsv,
    sniff_kinds,
    typed_sql,
)

# The types a typed column may widen to, tried in order before string.
_WIDENINGS = {"bigint": ("bigint", "double"), "double": ("double",), "boolean": ("boolean",)}


def token_template_to_regex(template: str) -> str:
    """``[tok]`` template → named-group regex, exactly the reference's
    substitution semantics (run_annotate.py:134-136): each token matches
    one path segment ``([^/]+)``; the rest of the template is literal."""
    literals = TOKEN_RE.split(template)[::2]
    groups = [f"(?P<{tok}>[^/]+)" for tok in extract_tokens(template)]
    return "".join(re.escape(lit) + g for lit, g in zip(literals, groups)) + re.escape(literals[-1])


def token_template_to_glob(template: str) -> str:
    return TOKEN_RE.sub("*", template)


def java_safe_regex(regex: str) -> str:
    """Python named groups ``(?P<name>…)`` are a Python-only spelling —
    Java regex (what regexp_extract runs) rejects them with
    INVALID_PARAMETER_VALUE.PATTERN. Token extraction is positional
    (the regexp_extract group index), so plain groups carry the same information."""
    return re.sub(r"\(\?P<\w+>", "(", regex)


def substitute_data_directory(source: str, data_directory: str) -> str:
    """The manifest stores ``$data_directory``-anchored sources
    (run_annotate.py:190); execution substitutes the real root."""
    return source.replace("$data_directory", data_directory.rstrip("/"))


class TypeCheck:
    """The write-path check of the types frozen from the head reads.

    Passed to :func:`compile_command`, it observes in the job that runs
    the frame, per typed column, the values that are neither null nor an
    NA token and that the type cannot hold. :meth:`widen` then reads the
    counts and widens exactly those columns as pandas would (bigint to
    double when every such value parses as double, else string); the
    next compile with this check uses the widened types and observes
    nothing, as they hold every value. Queries compile without a check:
    an observed column cannot be pruned from the scan.
    """

    def __init__(self) -> None:
        self.widened: dict[str, str] = {}
        self._checked: list[tuple[str, str]] = []
        self._observation: Observation | None = None

    def observe(self, df: DataFrame, types: dict[str, str]) -> DataFrame:
        """``df`` (string columns) observing the cast failures of ``types``."""
        if self._observation is not None:
            return df
        self._checked = [(c, t) for c, t in types.items() if t in _WIDENINGS]
        if not self._checked:
            return df
        fails = ", ".join(
            f"count_if({typed_sql(c, 'string')} IS NOT NULL AND {typed_sql(c, w)} IS NULL)"
            for c, t in self._checked
            for w in _WIDENINGS[t]
        )
        self._observation = Observation()
        return df.observe(self._observation, F.expr(f"array({fails})").alias("fails"))

    def widen(self) -> bool:
        """Widen the columns the observed job found values for; True if any."""
        if self._observation is None:
            return False
        fails = iter(self._observation.get["fails"])
        for c, t in self._checked:
            counts = [next(fails) for _ in _WIDENINGS[t]]
            wider = next((w for w, n in zip(_WIDENINGS[t], counts) if n == 0), "string")
            if wider != t:
                self.widened[c] = wider
        return bool(self.widened)


def compile_command(
    spark: SparkSession,
    cmd: TransformCommand,
    data_directory: str,
    check: TypeCheck | None = None,
) -> DataFrame:
    """Compile one hot.Parquet command to a lazy DataFrame; no Spark job
    starts. ``check`` is the executor's write-path type check."""
    source = substitute_data_directory(cmd.source, data_directory)
    tokens = extract_tokens(source)

    if tokens:
        pattern = token_template_to_glob(source)
        # gz is transparent (reference ext list includes .gz variants,
        # run_annotate.py:259) — accept it as an optional suffix.
        regex = token_template_to_regex(source) + r"(?:\.gz)?"
        matched = sorted(
            p
            for p in _expand_glob(spark, pattern) + _expand_glob(spark, pattern + ".gz")
            if re.fullmatch(regex, p)
        )
        if not matched:
            raise FileNotFoundError(f"no files match {pattern}")
        df, types = _read_members(spark, matched, cmd)
        # input_file_name() is a percent-ENCODED file: URI; the regex is
        # built from the raw template, so match against the decoded path
        # or any space/special char in the tree silently yields ''
        # tokens (code-review r15). '+' is protected first: url_decode
        # is form-decoding ('+' -> ' '), but in a URI path a literal
        # plus stays '+' — %2B-escaping it makes the decode a pure
        # percent-decode.
        decoded = F.url_decode(
            F.regexp_replace(F.input_file_name(), r"\+", "%2B")
        )
        # input_file_name() is a file: URL; anchor the path regex at its
        # end. Group i is the i-th token (groups are ordered by position).
        url_regex = f".*{java_safe_regex(regex)}$"
        df = df.withColumns(
            {tok: F.regexp_extract(decoded, url_regex, i) for i, tok in enumerate(tokens, 1)}
        )
    else:
        # Local-only existence pre-check: a URI-scheme source (s3a://,
        # gs://, abfss://) is handed straight to the reader — the dsv
        # sniffer and spark.read both speak Hadoop FS, and os.path.exists
        # would wrongly reject every cloud path (code-review r15).
        if "://" not in source and not os.path.exists(source):
            raise FileNotFoundError(source)
        df, types = _read_members(spark, [source], cmd)

    # Projection + rename with dictionary metadata (run_annotate.py:183-184,
    # 194, 233): keep only dictionary-resolved columns (plus tokens),
    # attach {name, desc} as column metadata.
    if cmd.cols:
        meta = {normalize_name(spec.col): {"name": spec.name, "desc": spec.desc} for spec in cmd.cols}
        names = [*meta, *(tok for tok in tokens if tok not in meta)]
    else:
        meta, names = {}, df.columns
    # kwargs.read.index_col (transform.json:16-19): Spark has no index —
    # keep it as an ordinary column, hoisted first and tagged as the row
    # identity in column metadata (§1.2 mapping).
    idx = normalize_name(cmd.read.index_col) if cmd.read.index_col else None
    if idx in names:
        names = [idx, *(c for c in names if c != idx)]
        meta[idx] = {**meta.get(idx, {}), "index": True}
    # Normalize the manifest's value_cols the same way sniff normalized
    # the frame's columns: a mixed-case manifest name would otherwise
    # stay an id while Spark's case-insensitive resolver still unpivots
    # it (code-review r15). Melted values are read as double, pandas
    # to_numeric(errors='coerce') parity: a cell that is not a number is
    # null, not a cast error.
    value_cols = normalize_columns(list(cmd.melt.value_cols)) if cmd.melt else []

    def cast(c: str) -> str:
        if c in tokens:
            # A token replaced any same-named data column (withColumns
            # above; the reference's assignment overwrite): path text.
            return quote_name(c)
        if c in value_cols:
            return typed_sql(c, "double")
        if c not in types:
            # §1.3 schema discipline: a manifest column no member has
            # reads as an explicit null column, stable output schema.
            return "CAST(NULL AS STRING)"
        return typed_sql(c, types[c])

    if check is not None:
        types.update(check.widened)
        typed = [c for c in names if c in types and c not in tokens and c not in value_cols]
        df = check.observe(df, {c: types[c] for c in typed})

    df = df.selectExpr(*(f"{cast(c)} AS {quote_name(c)}" for c in names))
    # Metadata only on columns the melt keeps: unpivot drops the rest's.
    if any(c in meta for c in names if c not in value_cols):
        df = df.select(*(
            F.col(quote_name(c)).alias(c, metadata=meta[c])
            if c in meta and c not in value_cols else quote_name(c)
            for c in names
        ))
    if cmd.melt:
        df = melt_op(
            df,
            ids=[c for c in names if c not in value_cols],
            values=value_cols,
            var_name=cmd.melt.key_name,
            value_name=cmd.melt.value_name,
        )
    return df


def _read_members(
    spark: SparkSession, paths: list[str], cmd: TransformCommand
) -> tuple[DataFrame, dict[str, str]]:
    """Read source files by column NAME, like the reference's per-file
    ``pd.read_csv(sep=None)`` then concat (run_annotate.py:20-28); returns
    the frame of string columns and each column's type.

    One head read per file decides its separator (unless ``cmd.read.sep``
    fixes it), its column names and the kinds of its head values; files
    sharing separator and names are one scan, so a uniform family still
    plans as a single FileScan. The groups are unioned by name
    (plan-level, no shuffle): a reordered member's values land in their
    named columns, and a column a member lacks reads null. A column's
    type joins its kinds across members, as pandas' concat would. The
    head reads are driver-side, 4 KB per file, one file at a time
    within a command; ``execute_manifest`` runs commands on a thread
    pool, so the head reads of different commands overlap. At
    object-store scale a large family's own loop is the next thing to
    batch, not the scan design.
    """
    groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
    kinds: dict[str, str | None] = {}
    for p in paths:
        sep, cols, member = sniff_kinds(p, header=cmd.read.header, sep=cmd.read.sep, spark=spark)
        groups.setdefault((sep, tuple(cols)), []).append(p)
        for c, k in member.items():
            kinds[c] = join_kind(kinds.get(c), k)
    df = union_by_name(
        read_dsv(spark, members, sep, list(cols), cmd.read.header)
        for (sep, cols), members in groups.items()
    )
    return df, {c: column_type(k) for c, k in kinds.items()}


def _expand_glob(spark: SparkSession, pattern: str) -> list[str]:
    """Glob expansion that follows the source's filesystem: plain paths
    use Python glob; URI-scheme patterns (s3a://, gs://, abfss://) go
    through Hadoop's FileSystem.globStatus — glob.glob returns [] for
    them, which used to read as 'no files match' (code-review r15)."""
    if "://" not in pattern:
        return globmod.glob(pattern)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(hpath)
    return [] if statuses is None else [str(st.getPath()) for st in statuses]

