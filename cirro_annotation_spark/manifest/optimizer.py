"""Manifest-level optimization pre-pass.

The reference PLANNED this pass but never built it —
``run_optimize.py:1-5`` is a ``print("HI")`` stub wired to nothing
(SURVEY.md §3.3). Everything expression-level belongs to Catalyst; what
remains useful at the manifest level is job-count reduction:

- merge_duplicate_sources: commands reading the same source with the
  same read options AND writing the same target collapse into one
  command with the union of their projections. Same-source commands
  with DIFFERENT targets are left alone — each declared output must be
  written (merging them silently dropped the second dataset; round-2
  advisor finding). De-duplicating the scan across different targets is
  an executor-level concern (scan once, project per target), not a
  manifest rewrite.
- prune_empty_commands: commands whose projection resolves to nothing
  (no cols, no tokens) are dropped with a warning rather than scheduled
  as empty scans.

Both passes are pure manifest→manifest functions: they run before any
Spark plan exists and compose with Catalyst's column pruning afterwards.
"""

from __future__ import annotations

from cirro_annotation_spark.manifest.model import Manifest, TransformCommand


def _read_key(cmd: TransformCommand) -> tuple:
    # target is part of the key: two commands reading one source but
    # writing DIFFERENT outputs must both survive — merging them would
    # silently drop the second declared output dataset.
    return (
        cmd.source,
        cmd.target,
        cmd.read.sep,
        cmd.read.header,
        cmd.read.index_col,
    )


def merge_duplicate_sources(manifest: Manifest) -> Manifest:
    """Collapse commands that scan the same source with identical read
    options AND the same target into one command carrying the union of
    their column specs (the target is part of the merge key — a merge
    across targets would drop a declared output). Commands whose melt or
    token specs differ are never merged (a melt changes row
    cardinality)."""
    merged: dict[tuple, TransformCommand] = {}
    out: list[TransformCommand] = []
    for cmd in manifest.commands:
        key = _read_key(cmd)
        prev = merged.get(key)
        if prev is None or prev.melt != cmd.melt or prev.tokens != cmd.tokens:
            if prev is None:
                merged[key] = cmd
            out.append(cmd)
            continue
        seen = {c.col for c in prev.cols}
        extra = tuple(c for c in cmd.cols if c.col not in seen)
        combined = TransformCommand(
            source=prev.source,
            target=prev.target,
            name=prev.name,
            desc=prev.desc,
            cols=prev.cols + extra,
            tokens=prev.tokens,
            melt=prev.melt,
            read=prev.read,
        )
        merged[key] = combined
        out[out.index(prev)] = combined
    return Manifest(commands=tuple(out))


def prune_empty_commands(manifest: Manifest) -> Manifest:
    """Drop commands whose planner resolved NO columns and that carry no
    tokens and no melt — the dictionary matched nothing, so the command
    would write an untyped full copy nobody asked for.

    A command with a melt is real work even with empty cols (the
    compiler treats empty cols as keep-all), so it survives; and every
    drop is warned about, never silent (code-review r15)."""
    import warnings

    kept, dropped = [], []
    for c in manifest.commands:
        if c.cols or c.tokens or c.melt:
            kept.append(c)
        else:
            dropped.append(c.target)
    if dropped:
        warnings.warn(
            "prune_empty_commands dropped manifest targets with no "
            f"resolved columns: {dropped} (write them explicitly with cols)",
            stacklevel=2,
        )
    return Manifest(commands=tuple(kept))


def optimize_manifest(manifest: Manifest) -> Manifest:
    return prune_empty_commands(merge_duplicate_sources(manifest))
