"""File discovery — the reference's get_file_list (run_annotate.py:54-66).

Recursive walk under a root, keeping delimited-text extensions (the
reference's list at run_annotate.py:259: .txt/.csv/.tsv plus .gz
variants), returned sorted (run_annotate.py:265).

Driver-side listing is correct here even at scale: object-store listing
is metadata traffic, and Spark itself lists paths on the driver before
planning a scan. For 10M+ file datasets the production move is a
manifest/catalog listing — the planner accepts any iterable of paths.
"""

from __future__ import annotations

import os
import re

EXTENSIONS = tuple(e + gz for e in (".txt", ".csv", ".tsv") for gz in ("", ".gz"))


def discover_files(root: str) -> list[str]:
    """Relative paths (like the reference) of delimited files under root.

    Raises rather than return nothing for a root that is not a local
    directory, and rather than let Spark drop their rows for files its
    reader skips (:func:`check_readable`)."""
    if "://" in root:
        raise ValueError(
            f"{root!r}: annotate walks a local data directory; "
            "execute accepts URI data directories"
        )
    if not os.path.exists(root):
        raise FileNotFoundError(f"data directory {root!r} does not exist")
    if not os.path.isdir(root):
        raise NotADirectoryError(f"data directory {root!r} is not a directory")
    out: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            if fn.endswith(EXTENSIONS):
                full = os.path.join(dirpath, fn)
                out.append(os.path.relpath(full, root))
    out.sort()
    check_readable(out)
    return out


def check_readable(paths: list[str]) -> None:
    """Raise a ValueError naming the ``paths`` that Spark's reader skips
    as hidden even when named explicitly, reading 0 rows and no error: a
    leaf name starting with ``.``, or with ``_`` and holding no ``=``
    (Hadoop's ``shouldFilterOutPathName``; directory names do not
    count). Pandas reads them, so the reference would have their rows."""
    hidden = [p for p in paths if re.match(r"\.|_(?!.*=)", os.path.basename(p))]
    if hidden:
        raise ValueError(
            f"Spark's reader skips files named '.*' or '_*' (without '='): {hidden}"
        )


def escape_glob(path: str) -> str:
    """``path`` as a Hadoop glob that matches only itself. Spark's reader
    treats every path it is given as a glob, so a literal ``[`` or ``{``
    in a directory name would otherwise select other files, or none."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", path)
