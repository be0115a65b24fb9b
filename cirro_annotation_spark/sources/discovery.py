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
    """Relative paths (like the reference) of delimited files under root."""
    out: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            if fn.endswith(EXTENSIONS):
                full = os.path.join(dirpath, fn)
                out.append(os.path.relpath(full, root))
    out.sort()
    return out


def escape_glob(path: str) -> str:
    """``path`` as a Hadoop glob that matches only itself. Spark's reader
    treats every path it is given as a glob, so a literal ``[`` or ``{``
    in a directory name would otherwise select other files, or none."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", path)
