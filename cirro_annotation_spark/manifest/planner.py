"""Non-interactive manifest builder — the reference's annotate flow
(run_annotate.py:257-326) with the prompts replaced by declarative specs.

The reference walks a dataset, asks the user which files are "variable"
(token-templated families, :124-174) and which columns form a melt group
(:104-120), resolves columns against a fields dictionary (:283-309), and
emits the manifest. Here the same decisions arrive as arguments; the
planner does the walking, sniffing, harvesting, and grouping.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from collections.abc import Mapping, Sequence

from pyspark.sql import SparkSession

from cirro_annotation_spark.manifest.compiler import template_members
from cirro_annotation_spark.manifest.fields import (
    FieldsDictionary,
    load_fields_dictionary,
)
from cirro_annotation_spark.manifest.model import (
    TOKEN_RE,
    ColumnSpec,
    Manifest,
    MeltSpec,
    TransformCommand,
)
from cirro_annotation_spark.sources.discovery import discover_files
from cirro_annotation_spark.sources.dsv import harvest_columns, normalize_name


def group_variable_files(
    files: Sequence[str], templates: Sequence[str]
) -> tuple[dict[str, list[str]], list[str]]:
    """Partition files into template-matched families vs standard files
    (run_annotate.py:124-174: pattern→regex→match loop). Returns
    ({template: matched_files}, remaining_standard_files)."""
    remaining = list(files)
    groups: dict[str, list[str]] = {}
    for template in templates:
        matched = groups[template] = template_members(template, remaining)
        taken = set(matched)
        remaining = [f for f in remaining if f not in taken]
    return groups, remaining


def _resolve_cols(
    columns: Sequence[str],
    dictionary: FieldsDictionary,
    process: str = "*",
    file: str = "*",
) -> tuple[ColumnSpec, ...]:
    """Dictionary resolution (run_annotate.py:283-309): known columns get
    {name, desc} via alias + process/file scope matching (the rich
    fields.json:3-75 semantics); unknown columns pass through with empty
    metadata (the reference prompts interactively; we keep them — dropping
    data silently is worse than missing descriptions)."""
    out = []
    for c in columns:
        meta = dictionary.resolve(c, process=process, file=file) or {}
        out.append(ColumnSpec(col=c, name=meta.get("name") or c, desc=meta.get("desc", "")))
    return tuple(out)


def build_manifest(
    spark: SparkSession,
    data_directory: str,
    variable_templates: Sequence[str] = (),
    melt_groups: Mapping[str, Sequence[str]] | None = None,
    dictionary=None,
    process: str = "*",
) -> Manifest:
    """Walk ``data_directory``, classify files, harvest columns, emit the
    manifest: one command per variable family (template order), then one
    per standard file (discovery order) — the reference's
    generate_variable_file_manifest and generate_standard_file_manifest
    (:177-253) as one loop.

    - variable_templates: ``[token]`` path templates relative to the root.
    - melt_groups: {file_or_template: [value columns to fold]}, names
      matched trimmed and lowercased; the folded key and value columns
      are named ``sample`` and ``reads``.
    - dictionary: any fields.json shape (rich alias/scoped, flat, mapping).
    - process: pipeline process id for scoped dictionary resolution.
    """
    melt_groups = dict(melt_groups or {})
    dictionary = load_fields_dictionary(dictionary or {})
    families, standard = group_variable_files(
        discover_files(data_directory), variable_templates
    )
    # A source path's [word] is a token (the reference's syntax has no
    # escape), so such a file would be read as a family of its siblings.
    tokened = [rel for rel in standard if TOKEN_RE.search(rel)]
    if tokened:
        raise ValueError(
            "a standard file whose path holds a [token] would be read as a "
            f"template; rename it: {tokened}"
        )
    # (rel path or template, file whose header names the columns, is a family)
    sources = [(t, members[0], True) for t, members in families.items() if members]
    sources += [(rel, rel, False) for rel in standard]
    heads = harvest_columns(spark, data_directory, [head for _, head, _ in sources])
    targets = _target_names([rel for rel, _, _ in sources])

    commands = []
    for (rel, head, family), target in zip(sources, targets):
        cols = heads[head]
        commands.append(
            TransformCommand(
                source=f"$data_directory/{rel}",
                target=target,
                name=target,
                desc=f"{'variable family' if family else 'standard file'} {rel}",
                cols=_resolve_cols(cols, dictionary, process=process, file=rel),
                melt=_melt_for(rel, cols, melt_groups),
            )
        )
    return Manifest(commands=tuple(commands))


def _melt_for(
    key: str, cols: Sequence[str], melt_groups: Mapping[str, Sequence[str]]
) -> MeltSpec | None:
    if key not in melt_groups:
        return None
    # cols are the sniffed, normalized names: match the caller's under
    # the same rule (or a mixed-case list silently melts nothing), once
    # each (two spellings of one column would melt it twice).
    names = dict.fromkeys(map(normalize_name, melt_groups[key]))
    value_cols = tuple(n for n in names if n in set(cols))
    if not value_cols:
        return None
    return MeltSpec(key_name="sample", value_name="reads", value_cols=value_cols)


def _target_names(rels: Sequence[str]) -> list[str]:
    """One output name per source: its basename, unless another source
    shares that name; then its relative path with token brackets dropped
    (Spark reads ``[gene]`` in a path as a glob class) and separators as
    ``__``, e.g. ``genes/[gene]/summary.tsv`` -> ``genes__gene__summary.parquet``."""
    base = [_target_name(rel) for rel in rels]
    shared = Counter(base)
    return [
        b if shared[b] == 1
        else _target_name(re.sub(r"[\[\]]", "", rel).replace(os.sep, "/").replace("/", "__"))
        for rel, b in zip(rels, base)
    ]


def _target_name(rel: str) -> str:
    """Output name from the path basename (run_annotate.py:191, 230)."""
    base = os.path.basename(rel)
    for ext in (".gz", ".txt", ".csv", ".tsv"):
        if base.endswith(ext):
            base = base[: -len(ext)]
    return base.replace(".", "_") + ".parquet"
