"""Twin scan: pairs of package functions whose bodies read alike.

Candidates are the top-level functions of the package, and the methods
of its top-level classes, that span 15 lines or more; the query suites
are left out (their functions are queries, not engine code). Each body
is unparsed from the AST without its docstring, so comments and layout
do not count, and every pair is scored with ``difflib``'s ratio
(``autojunk=False``). Pairs above THRESHOLD are printed, highest
first, and their count last. A pair here is a candidate for one shared
body, not a verdict: two functions of one idiom also score high.

Usage: python scripts/twin_scan.py [REPO_ROOT]
"""

from __future__ import annotations

import argparse
import ast
import difflib
import itertools
from pathlib import Path

PKG = "cirro_annotation_spark"
MIN_LINES = 15
THRESHOLD = 0.45


def _body(node: ast.AST) -> str:
    """``node`` unparsed without its docstring."""
    body = node.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        if isinstance(body[0].value.value, str):
            body = body[1:]
    return ast.unparse(ast.Module(body=body, type_ignores=[]))


def candidates(package: Path) -> dict[str, str]:
    """{module:qualname: body} of every function of MIN_LINES or more."""
    out = {}
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package)
        if rel.parts[0] == "suites":
            continue
        tree = ast.parse(path.read_text(), str(path))
        module = ".".join(rel.with_suffix("").parts)
        for node in tree.body:
            members = node.body if isinstance(node, ast.ClassDef) else [node]
            for d in members:
                if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                name = d.name if d is node else f"{node.name}.{d.name}"
                if d.end_lineno - d.lineno + 1 >= MIN_LINES:
                    out[f"{module}:{name}"] = _body(d)
    return out


def twins(bodies: dict[str, str]) -> list[tuple[float, str, str]]:
    """(ratio, a, b) of each pair whose ratio exceeds THRESHOLD."""
    out = []
    for (a, ta), (b, tb) in itertools.combinations(bodies.items(), 2):
        sm = difflib.SequenceMatcher(None, ta, tb, autojunk=False)
        # both quick ratios bound ratio() from above
        if sm.real_quick_ratio() <= THRESHOLD or sm.quick_ratio() <= THRESHOLD:
            continue
        r = sm.ratio()
        if r > THRESHOLD:
            out.append((r, a, b))
    return sorted(out, key=lambda t: (-t[0], t[1], t[2]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("root", nargs="?", default=Path(__file__).resolve().parent.parent, type=Path)
    args = ap.parse_args()
    bodies = candidates(args.root / PKG)
    pairs = twins(bodies)
    for r, a, b in pairs:
        print(f"{r:.2f}  {a}  {b}")
    print(f"{len(pairs)} pairs above {THRESHOLD} among {len(bodies)} functions")


if __name__ == "__main__":
    main()
