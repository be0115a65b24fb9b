"""Crash-safe publishing of a directory target, shared by every Parquet
sink (manifest executor, HDF chunks, CDC base, copy-on-write MERGE).

The new version is written in full to ``<target>.staging-<ns>`` beside
the target and marked complete with ``_SUCCESS``; then a rename pair
swaps it in. A failed write never touches the target, and
:func:`recover` heals a kill between the two renames, so the target is
always its previous version or the complete new one. Each rename stays
in one directory, so it is atomic on a local or POSIX filesystem — not
on an object store, where a rename is a copy.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable


def _staging_dirs(base_path: str) -> list[str]:
    parent = os.path.dirname(base_path) or "."
    prefix = os.path.basename(base_path) + ".staging-"
    return [os.path.join(parent, d) for d in os.listdir(parent) if d.startswith(prefix)]


def recover(base_path: str) -> None:
    """Roll forward/back a swap interrupted between the two renames.

    The swap sequence is: rename(base → base.old), rename(staging →
    base), rmtree(base.old). A crash between the renames leaves
    base.old but no base; the staged result (a complete parquet dir
    carrying _SUCCESS) may or may not exist. Recovery: prefer a
    complete staging dir (roll forward), else restore base.old (roll
    back). Either way the reader sees a complete base, never a half
    state.
    """
    old = base_path + ".old"
    if os.path.exists(base_path):
        if os.path.exists(old):  # crash after swap, before cleanup
            shutil.rmtree(old)
        return
    if not os.path.exists(old):
        return
    # Temporal order, two ways: staging names carry a nanos timestamp,
    # and the sort key is st_mtime, not the name — a lexical sort over
    # random suffixes would promote a STALE leftover snapshot with ~50%
    # probability and then delete both the good base and the correct
    # staged result (code-review r15).
    staged = sorted(
        (d for d in _staging_dirs(base_path) if os.path.exists(os.path.join(d, "_SUCCESS"))),
        key=os.path.getmtime,
    )
    if staged:  # roll forward to the newest complete staging dir
        os.rename(staged[-1], base_path)
        shutil.rmtree(old)
        for leftover in staged[:-1]:
            shutil.rmtree(leftover)
    else:  # roll back
        os.rename(old, base_path)


def publish(target: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``target`` with what ``write`` produces.

    ``write(staging)`` creates the complete new version at a path that
    does not exist yet. If it raises, the staging directory is deleted
    and the target is left as it was. The previous version is deleted
    after the swap.
    """
    recover(target)
    staging = f"{target}.staging-{time.time_ns()}"
    try:
        write(staging)
        open(os.path.join(staging, "_SUCCESS"), "a").close()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    old = target + ".old"
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staging, target)
    if os.path.exists(old):
        shutil.rmtree(old)
    # A staging dir from an earlier crashed swap (complete but never
    # promoted) must not outlive a SUCCESSFUL swap: recovery prefers
    # the newest staged result, which after this point is strictly
    # older than the live target (code-review r15).
    for leftover in _staging_dirs(target):
        shutil.rmtree(leftover, ignore_errors=True)
