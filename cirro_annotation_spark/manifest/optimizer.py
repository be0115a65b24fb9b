"""Manifest-level pre-pass: drop the commands whose sources have no columns.

The reference planned an optimize step but never built it —
``run_optimize.py:1-5`` is a ``print("HI")`` stub wired to nothing
(SURVEY.md §3.3). Expression-level work belongs to Catalyst, and the
planner emits one command per target, so the one manifest rewrite left
is the prune: ``annotate`` calls :func:`optimize_manifest` between
planning and execution. It is a pure manifest→manifest function.

The prune could live in the planner; this module stays because the
benchmark's tracer imports it by name to time the pass.
"""

from __future__ import annotations

import warnings

from cirro_annotation_spark.manifest.model import Manifest


def prune_empty_commands(manifest: Manifest) -> Manifest:
    """Drop commands with no cols, no tokens and no melt. The planner
    keeps every header column, known to the dictionary or not
    (``planner._resolve_cols``), so a planned command has no cols only
    when its source's header gave none (an empty file): it would write
    a target without columns.

    A command with a melt is real work even with empty cols (the
    compiler treats empty cols as keep-all), so it survives; and every
    drop is warned about, never silent (code-review r15)."""
    kept, dropped = [], []
    for c in manifest.commands:
        if c.cols or c.tokens or c.melt:
            kept.append(c)
        else:
            dropped.append(c.target)
    if dropped:
        warnings.warn(
            "prune_empty_commands dropped manifest targets whose sources "
            f"have no columns: {dropped}",
            stacklevel=2,
        )
    return Manifest(commands=tuple(kept))


optimize_manifest = prune_empty_commands
