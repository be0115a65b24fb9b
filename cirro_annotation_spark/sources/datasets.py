"""Dataset-chooser surface — non-interactive parity with the reference's
interactive prompt loop.

The reference presents datasets newest-first and resolves the picked
label back to an id (``annotation/commands/ask_dataset.py:13-34``: sort
by ``created_at`` reverse, choices labeled ``"{name} - {id}"``). An
engine has no prompt; the equivalent surface is
:func:`newest_first_listing`, the labeled, newest-first listing as a
DataFrame the caller renders (the ``datasets`` CLI subcommand). It is a
sort + project: a top-k under a limit → TakeOrderedAndProject, no global
sort at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _label(name_col: str, id_col: str) -> F.Column:
    """The reference's ``"{name} - {id}"`` choice string. A NULL name
    renders as the visible marker ``"<null>"`` rather than being silently
    dropped (``concat_ws`` skips NULLs, which would relabel a NULL-named
    dataset as just ``"<id>"`` — a label the reference's rendering could
    never produce; round-3 advice)."""
    return F.concat(
        F.coalesce(F.col(name_col).cast("string"), F.lit("<null>")),
        F.lit(" - "),
        F.col(id_col).cast("string"),
    )


def newest_first_listing(
    df: DataFrame,
    name_col: str,
    id_col: str,
    created_col: str,
    limit: int | None = None,
) -> DataFrame:
    """Labeled dataset listing, newest first.

    Returns (label, dataset_id, created_day): label is the reference's
    ``"{name} - {id}"`` choice string; created_day its formatted-date
    meta line. Sorts on the RAW created column (full timestamp
    precision — sorting the formatted day string would order same-day
    datasets by id, deviating from the reference's created_at-reverse
    semantics), with id descending as the deterministic tie-break.
    """
    label = _label(name_col, id_col)
    out = (
        df.select(
            label.alias("label"),
            F.col(id_col).alias("dataset_id"),
            F.col(created_col).alias("__created"),
            F.date_format(F.col(created_col), "yyyy-MM-dd").alias("created_day"),
        )
        .orderBy(F.col("__created").desc(), F.col("dataset_id").desc())
    )
    if limit is not None:
        out = out.limit(limit)
    return out.drop("__created")
