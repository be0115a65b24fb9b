"""Reference scan: the package holds no module and no top-level def that
only tests reach (ROADMAP item 8).

An AST walk, no import. The user paths are perfbench, the scripts,
``bench.py``, ``__spark_entry__.py`` and the CLI; a package module is
reached when a reached file imports it (or names it in a string, as
perfbench's tracer does), so a module that only re-exports what nothing
imports reaches nothing. A top-level def or class, or a method of one,
is reached when a reached file names it (a Name, an Attribute or an
imported name) outside its own definition. The query suites are reached
through the registry; their functions are queries, so only their
references count. Each exception in ``KEEP`` carries its reason.
"""

from __future__ import annotations

import ast
import warnings
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "cirro_annotation_spark"
ENTRY = ("perfbench", "scripts", "bench.py", "__spark_entry__.py", f"{PKG}/__main__.py")

KEEP = {
    "sources.hdf.iter_hdf_chunks": "the HDF decoder; it needs h5py, which is not installed",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree: ast.Module, module: str, is_package: bool) -> set[str]:
    """Dotted names ``tree`` imports, or names in a string constant."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = module.split(".")[: len(module.split(".")) - node.level + is_package]
                base = ".".join(parent + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _names(node: ast.AST) -> Counter:
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _defs(tree: ast.Module):
    """(qualified name, node) of each top-level def and class, and of
    each non-dunder method of a top-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                    yield f"{node.name}.{m.name}", m


def reference_scan() -> list[str]:
    """What no user path reaches, as names relative to the package."""
    files = [*(ROOT / PKG).rglob("*.py")]
    for entry in ENTRY:
        files += [ROOT / entry] if entry.endswith(".py") else (ROOT / entry).rglob("*.py")
    with warnings.catch_warnings():  # a suite's invalid escapes are not ours to judge
        warnings.simplefilter("ignore")
        trees = {p: ast.parse(p.read_text(), str(p)) for p in set(files)}
    module_of = {p: _module_name(p) for p in trees}
    file_of = {m: p for p, m in module_of.items()}

    reached = {p for p, m in module_of.items() if not m.startswith(PKG + ".")}
    reached.add(ROOT / PKG / "__main__.py")
    while True:
        imported = set()
        for p in reached:
            imported |= _imports(trees[p], module_of[p], p.name == "__init__.py")
        # importing a.b.c imports the packages a and a.b too
        imported |= {m.rsplit(".", k)[0] for m in imported for k in range(1, m.count(".") + 1)}
        more = reached | {file_of[m] for m in imported if m in file_of}
        if more == reached:
            break
        reached = more

    total = Counter()
    for p in reached:
        total.update(_names(trees[p]))
    unreached = []
    for p, module in sorted(module_of.items()):
        if not module.startswith(PKG + "."):
            continue
        short = module.removeprefix(PKG + ".")
        if short.startswith("suites"):
            continue
        if p not in reached:
            unreached.append(short)
            continue
        for qualname, node in _defs(trees[p]):
            name = qualname.rsplit(".", 1)[-1]
            if total[name] - _names(node)[name] <= 0:
                unreached.append(f"{short}.{qualname}")
    return unreached


def test_no_module_or_def_only_tests_reach():
    unreached = reference_scan()
    assert sorted(set(unreached) - set(KEEP)) == [], "reached only by tests, or by nothing"
    # A keep that a user path now reaches is no exception any more.
    assert sorted(set(KEEP) - set(unreached)) == []
