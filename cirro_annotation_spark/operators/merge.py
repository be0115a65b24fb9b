"""Copy-on-write MERGE INTO for plain parquet tables with FILE-level
pruning — the Delta/Iceberg MERGE shape without the table format.

Reference parity note: the reference (CirroBio/Cirro-Annotation) only
ever overwrites whole parquet targets (run_annotate.py's hot.Parquet
sink); this operator extends the sink family for the mutable-table
case a 100 TB pipeline hits daily (ingest upserts, GDPR deletes,
backfills). The design follows the public copy-on-write strategy of
Delta Lake / Apache Iceberg: identify the files whose key ranges can
contain matched keys, rewrite ONLY those plus an append for new keys,
and leave every other file physically untouched.

Why this matters at 100 TB: a naive MERGE rewrites the whole table. A
key-clustered table (range-partitioned and sorted on the key, or
write_zordered) bounds the rewrite to |touched key ranges| — the footer
min/max stats that prune reads (operators/layout.py) prune WRITES here.
Untouched files are hard-linked into the new table version, so the
rewrite cost is proportional to the update's locality, not the table
size.

Crash safety is the shared publish helper (``publish.py``): stage the
full next version (links + rewritten files + _SUCCESS), rename base
aside, rename staging in, drop the old — a crash at any point leaves a
complete base on disk.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cirro_annotation_spark.publish import publish, recover


def file_key_bounds(base_dir: str, key: str) -> list[tuple[str, int, int]]:
    """(file, min, max) of ``key`` per parquet data file, from footer
    row-group statistics only — no data pages are read. Driver-side
    model state bounded by the file count (at 100 TB this is the
    table-format manifest read, a few MB)."""
    out = []
    for name in sorted(os.listdir(base_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(base_dir, name)
        md = papq.ParquetFile(path).metadata
        # zero-row-group part files (an upstream writer's empty shuffle
        # partitions) carry no keys: skipping them here both unblocks
        # the stats read AND drops them from the next version — a free
        # micro-compaction, since a file with no rows needs no link
        if md.num_row_groups == 0:
            continue
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == key
            )
            if col.statistics is None:
                raise ValueError(f"{path}: no stats for {key}")
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        out.append((path, min(los), max(his)))
    return out


def merge_into_parquet(
    spark: SparkSession,
    base_dir: str,
    source: DataFrame,
    key: str,
    delete: bool = False,
) -> dict[str, int]:
    """Upsert ``source`` into the parquet table at ``base_dir`` on
    ``key``: matched base rows are replaced by the source row, new keys
    are appended. Files whose [min, max] key range contains no source
    key are HARD-LINKED into the next table version unmodified.

    ``delete=True`` flips the merge into the right-to-erasure shape
    (the GDPR/opt-out rewrite a training corpus must support): matched
    keys are REMOVED instead of replaced — ``source`` needs only the
    key column and nothing is appended. Same pruning: only files whose
    range contains a deleted key are rewritten. The pre-merge version
    is deleted once the new one is in place, so erased rows do not
    survive on disk.

    Returns {"files_total": n, "files_rewritten": m} for observability
    (m is the pruning evidence the tests pin).
    """
    recover(base_dir)
    bounds = file_key_bounds(base_dir, key)
    bdf = spark.createDataFrame(
        [(f, lo, hi) for f, lo, hi in bounds], "file string, lo long, hi long"
    )
    # A file is affected iff SOME source key lands in its range: a
    # broadcast range join of the (tiny) bounds frame against the
    # source keys, distinct on file. The collect is bounded by the
    # file count — manifest-sized model state.
    keys = source.select(F.col(key).alias("__k")).distinct()
    affected = set(
        r.file
        for r in keys.join(
            F.broadcast(bdf),
            (F.col("__k") >= F.col("lo")) & (F.col("__k") <= F.col("hi")),
        )
        .select("file")
        .distinct()
        .collect()
    )
    untouched = [f for f, _, _ in bounds if f not in affected]

    # the millis stamp names this merge's rewritten files
    millis = int(time.time() * 1000)

    def write(staging: str) -> None:
        os.makedirs(staging)
        # Rewrite = affected base rows that DON'T match a source key,
        # plus (upsert mode) every source row (updates + inserts) — a
        # source-wins full outer merge restricted to the affected files.
        # SCHEMA EVOLUTION: a source column absent from the base widens
        # the table — kept base rows take NULL for it (the Delta/
        # Iceberg mergeSchema semantics). Untouched files keep the old
        # physical schema, so reads of an evolved table must go through
        # option("mergeSchema", "true") — plain parquet has no
        # table-level schema manifest to consult.
        new_data = None if delete else source
        if affected:
            # mergeSchema is mandatory, not cosmetic: after a prior
            # schema-evolving merge the table holds files of BOTH the
            # old and the widened schema, and a plain read picks the
            # schema from an arbitrary footer — an affected set
            # spanning mixed-schema files would silently rewrite kept
            # rows WITHOUT the evolved column (permanent loss,
            # nondeterministic by footer choice). ADVICE r10 high.
            base_affected = (
                spark.read.option("mergeSchema", "true")
                .parquet(*sorted(affected))
            )
            keep = base_affected.join(source.select(key), key, "left_anti")
            new_data = (
                keep
                if delete
                else keep.unionByName(source, allowMissingColumns=True)
            )
        if new_data is not None:
            # Spark writes into a hidden subdirectory of the staging dir:
            # a sibling would match the ``<base>.staging-`` prefix, and
            # recovery could promote it (it carries Spark's _SUCCESS).
            tmp = os.path.join(staging, "_write")
            new_data.write.parquet(tmp)
            # per-merge unique prefix: rewritten files from a PREVIOUS
            # merge survive as untouched files in later merges, so plain
            # ordinal names would collide with them in the staging dir
            n_out = 0
            for name in sorted(os.listdir(tmp)):
                if name.endswith(".parquet"):
                    os.rename(
                        os.path.join(tmp, name),
                        os.path.join(staging, f"merged-{millis}-{n_out:05d}.parquet"),
                    )
                    n_out += 1
            shutil.rmtree(tmp)
        for path in untouched:
            os.link(path, os.path.join(staging, os.path.basename(path)))

    publish(base_dir, write)
    return {"files_total": len(bounds), "files_rewritten": len(affected)}


def table_diff(
    a: DataFrame, b: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """Reconciliation diff between two snapshots of a keyed table — the
    validation twin of merge/CDC pipelines (does the replayed base equal
    the source-of-truth?).

    Returns one row per differing key: (key, status) with status in
    {'added', 'removed', 'changed'} ('added' = in ``b`` only). Change
    detection compares md5 over the concatenated compare columns —
    portable across engines and, at 100 TB, the right shape anyway: the
    full outer join carries (key, 16-byte digest) per side instead of
    the payload, so the shuffle is fingerprint-sized. Matching keys
    with equal digests produce no row — the common case costs no
    output.
    """
    def fp(df: DataFrame) -> DataFrame:
        # Digest of PER-COLUMN digests: concat_ws over raw values drops
        # NULLs (and their separator) and lets values embedding the
        # separator shift bytes across column boundaries — both collide
        # distinct rows into one digest and a real change vanishes from
        # the diff (code-review r15, twice). Hashing each column first
        # makes every field fixed-width ("N" for NULL, 32 hex chars
        # otherwise), so no value can reshape the frame; collisions now
        # require breaking md5 itself.
        digest = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.md5(F.col(c).cast("string")), F.lit("N"))
                    for c in compare_cols
                ],
            )
        )
        return df.select(F.col(key), digest.alias("__fp"))

    fa = fp(a).withColumnRenamed("__fp", "__fp_a")
    fb = fp(b).withColumnRenamed("__fp", "__fp_b")
    j = fa.join(fb, key, "full_outer")
    status = (
        F.when(F.col("__fp_a").isNull(), "added")
        .when(F.col("__fp_b").isNull(), "removed")
        .when(F.col("__fp_a") != F.col("__fp_b"), "changed")
    )
    return (
        j.select(F.col(key), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )
