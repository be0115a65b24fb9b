"""Compile manifest commands to lazy DataFrame pipelines.

Pipeline per command (the reference's declared execution contract,
SURVEY.md §3.2):

    list the source's members → read DSV members by name (kwargs.read)
    as strings → token columns from path regex → project+rename to cols,
    each column cast to the type its members' head reads gave → melt if
    specified → caller sinks to Parquet.

Standard files and families resolve by the planner's one rule
(:func:`template_members`): one glob listing per source, then the
template's regex over paths relative to the data directory, which picks
the members and extracts the tokens. No pattern holds the data directory.

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
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest.model import TOKEN_RE, TransformCommand, extract_tokens
from cirro_annotation_spark.operators.reshape import melt as melt_op
from cirro_annotation_spark.operators.reshape import union_by_name
from cirro_annotation_spark.sources.discovery import check_readable, escape_glob
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
# What every manifest source starts with (run_annotate.py:190).
_ROOT = "$data_directory/"


def token_template_to_regex(template: str) -> str:
    """``[tok]`` template → regex, one positional group per token in order
    (run_annotate.py:134-136): each token one path segment ``([^/]+)``,
    the rest literal, read alike by Python and Java. A family also
    matches its ``.gz`` members (run_annotate.py:259 ext list); a token
    named twice is rejected."""
    literals = TOKEN_RE.split(template)[::2]
    regex = "([^/]+)".join(map(re.escape, literals))
    return regex + r"(?:\.gz)?" if extract_tokens(template) else regex


def token_template_to_glob(template: str, escape: Callable[[str], str] = globmod.escape) -> str:
    """The glob that lists what :func:`token_template_to_regex` can match:
    each token a ``*``, the literals escaped by ``escape`` for the glob
    dialect that lists, and for a family a trailing ``*`` for ``.gz``."""
    literals = TOKEN_RE.split(template)[::2]
    glob = "*".join(map(escape, literals))
    return glob + "*" if len(literals) > 1 else glob


def template_members(template: str, paths: Iterable[str]) -> list[str]:
    """The ``paths`` (relative to the data directory) that ``template``
    picks, sorted: the one member rule, which the planner applies to the
    walked tree and :func:`compile_command` to a source's listing."""
    regex = re.compile(token_template_to_regex(template))
    return sorted(p for p in paths if regex.fullmatch(p))


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
    if not cmd.source.startswith(_ROOT):
        raise ValueError(f"{cmd.source!r}: a manifest source starts with {_ROOT}")
    template = cmd.source[len(_ROOT):]
    tokens = cmd.tokens
    members = template_members(template, _list(spark, data_directory, template))
    if not members:
        raise FileNotFoundError(f"no files match {template} under {data_directory}")
    check_readable(members)
    df, types = _read_members(spark, [os.path.join(data_directory, m) for m in members], cmd)
    if tokens:
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
        # Anchored at the '/' before the template and at the end, the
        # regex sees only the relative path (a token never spans a '/').
        # Group i is the i-th token.
        regex = f"/{token_template_to_regex(template)}$"
        df = df.withColumns(
            {tok: F.regexp_extract(decoded, regex, i) for i, tok in enumerate(tokens, 1)}
        )

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
    # Normalize the manifest's value_cols the same way the head read normalized
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


def _list(spark: SparkSession, data_directory: str, template: str) -> list[str]:
    """The paths, relative to ``data_directory``, that the glob of
    ``template`` lists: Python's glob for a local root, Hadoop's
    ``globStatus`` for a URI root (s3a://, gs://, file://)."""
    if "://" not in data_directory:
        return globmod.glob(
            token_template_to_glob(template), root_dir=data_directory, include_hidden=True
        )
    path = spark._jvm.org.apache.hadoop.fs.Path
    root = data_directory.rstrip("/")
    fs = path(root).getFileSystem(spark._jsc.hadoopConfiguration())
    # Listed paths come back as Hadoop qualifies them (file:/x for file:///x).
    prefix = str(fs.makeQualified(path(root))).rstrip("/") + "/"
    pattern = path(f"{escape_glob(root)}/{token_template_to_glob(template, escape_glob)}")
    return [str(st.getPath()).removeprefix(prefix) for st in fs.globStatus(pattern) or ()]
