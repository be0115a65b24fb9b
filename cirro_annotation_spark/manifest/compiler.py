"""Compile manifest commands to lazy DataFrame pipelines.

Pipeline per command (the reference's declared execution contract,
SURVEY.md §3.2):

    glob(source) → read DSV members by name (kwargs.read) → token
    columns from path regex → project+rename to cols → melt if
    specified → caller sinks to Parquet.

Scale design: files sharing a separator and a header are ONE multi-path
scan, not N per-file jobs — tokens come from ``regexp_extract(
input_file_name())`` executor-side, so a uniform 100k-file family plans
as a single FileScan; differing members add one scan per (sep, header)
group, unioned by name. The pipeline is shuffle-free (scan → project →
expand → write), i.e. embarrassingly parallel at any scale.
"""

from __future__ import annotations

import glob as globmod
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest.model import TOKEN_RE, TransformCommand, extract_tokens
from cirro_annotation_spark.operators.reshape import melt as melt_op
from cirro_annotation_spark.operators.reshape import union_by_name
from cirro_annotation_spark.sources.dsv import normalize_columns, normalize_name, read_dsv, sniff


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


def _qcol(name: str) -> F.Column:
    """Column reference that survives dotted names (`p.low` — mageck output
    columns, faithful to the reference domain): backtick-quote so neither
    F.col nor df[...] parses the dot as struct access."""
    return F.col(f"`{name}`") if "." in name else F.col(name)


def substitute_data_directory(source: str, data_directory: str) -> str:
    """The manifest stores ``$data_directory``-anchored sources
    (run_annotate.py:190); execution substitutes the real root."""
    return source.replace("$data_directory", data_directory.rstrip("/"))


def compile_command(
    spark: SparkSession, cmd: TransformCommand, data_directory: str
) -> DataFrame:
    """Compile one hot.Parquet command to a lazy DataFrame."""
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
        df = _read_members(spark, matched, cmd)
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
        df = _read_members(spark, [source], cmd)

    # Projection + rename with dictionary metadata (run_annotate.py:183-184,
    # 194, 233): keep only dictionary-resolved columns (plus tokens),
    # attach {name, desc} as column metadata.
    if cmd.cols:
        keep = []
        df_cols = set(df.columns)
        for spec in cmd.cols:
            col_norm = normalize_name(spec.col)
            if col_norm in df_cols:
                keep.append(
                    _qcol(col_norm).alias(
                        col_norm, metadata={"name": spec.name, "desc": spec.desc}
                    )
                )
            else:
                # §1.3 schema discipline: manifest column missing from the
                # file → explicit null column, stable output schema.
                keep.append(F.lit(None).cast("string").alias(col_norm))
        # A token already named in cmd.cols must not be selected twice
        # (duplicate output columns fail at the parquet sink); the
        # token value wins either way — withColumn above replaced any
        # same-named data column, matching the reference's assignment
        # overwrite (code-review r15).
        spec_names = {normalize_name(sp.col) for sp in cmd.cols}
        keep.extend(_qcol(tok) for tok in tokens if tok not in spec_names)
        df = df.select(*keep)

    # kwargs.read.index_col (transform.json:16-19): Spark has no index —
    # keep it as an ordinary column, hoisted first and tagged as the row
    # identity in column metadata (§1.2 mapping).
    if cmd.read.index_col:
        idx = normalize_name(cmd.read.index_col)
        if idx in df.columns:
            meta = dict(df.schema[idx].metadata or {})
            meta["index"] = True
            df = df.select(
                _qcol(idx).alias(idx, metadata=meta),
                *[_qcol(c) for c in df.columns if c != idx],
            )

    if cmd.melt:
        # Normalize the manifest's value_cols the same way sniff
        # normalized the frame's columns: a mixed-case manifest name
        # would otherwise pass the case-sensitive `not in` below while
        # Spark's case-insensitive resolver still unpivots it — the
        # column would appear BOTH as an id and as melted rows
        # (code-review r15).
        value_cols = normalize_columns(list(cmd.melt.value_cols))
        ids = [c for c in df.columns if c not in value_cols]
        # Spark requires a common type across unpivoted values; try_cast
        # (not cast) for pandas to_numeric(errors='coerce') parity — the
        # domain's 'NA' cells become NULL instead of an ANSI cast error.
        # One select: a withColumn per value column re-analyses the
        # growing plan once per sample.
        df = df.select(
            *(
                _qcol(c) if c in ids else _qcol(c).try_cast("double").alias(c)
                for c in df.columns
            )
        )
        df = melt_op(
            df,
            ids=ids,
            values=list(value_cols),
            var_name=cmd.melt.key_name,
            value_name=cmd.melt.value_name,
        )
    return df


def _read_members(
    spark: SparkSession, paths: list[str], cmd: TransformCommand
) -> DataFrame:
    """Read source files by column NAME, like the reference's per-file
    ``pd.read_csv(sep=None)`` then concat (run_annotate.py:20-28).

    One head read per file decides its separator (unless ``cmd.read.sep``
    fixes it) and its column names; files sharing both are one scan, so a
    uniform family still plans as a single FileScan. The groups are
    unioned by name (plan-level, no shuffle): a reordered member's values
    land in their named columns, and a column a member lacks reads null.
    The head reads are driver-side, 4 KB per file, one file at a time
    within a command; ``execute_manifest`` runs commands on a thread
    pool, so the head reads of different commands overlap. At
    object-store scale a large family's own loop is the next thing to
    batch, not the scan design.
    """
    groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
    for p in paths:
        sep, cols = sniff(p, header=cmd.read.header, sep=cmd.read.sep, spark=spark)
        groups.setdefault((sep, tuple(cols)), []).append(p)
    return union_by_name(
        read_dsv(spark, members, sep, list(cols), cmd.read.header)
        for (sep, cols), members in groups.items()
    )


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

