"""Plan inspection utilities — the engine's scale-hygiene feedback loop.

Catalyst is the optimizer (SURVEY.md §4: the reference's optimization
intents — column pruning, file skipping, dictionary encoding — are all
built-in). These helpers render the physical plan and parse the
properties that matter at 100 TB out of its text: the columns each scan
reads and the scans with pushed filters. The plan-fingerprint gate
(:mod:`.fingerprint`) builds every query's plan shape from them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def read_schema_cols(plan: str) -> list[str]:
    """Column names across every ReadSchema line of a rendered plan —
    the single text-level parser of scan columns, shared by the
    fingerprint module and the plan tests (code-review r14: two
    independent parsers of the same plan text can drift apart
    silently)."""
    out: list[str] = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:") and "struct<" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            # Bracket-depth-aware split: a nested field like
            # payload:struct<a:int,b:int> is ONE top-level column, not
            # three — naive comma-splitting miscounted the fingerprint
            # scan_cols axis for nested schemas (ADVICE r14).
            depth, start = 0, 0
            fields: list[str] = []
            for i, ch in enumerate(inner):
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    fields.append(inner[start:i])
                    start = i + 1
            fields.append(inner[start:])
            out.extend(f.split(":")[0] for f in fields if ":" in f)
    return out


def pushed_filter_scan_count(plan: str) -> int:
    """Number of scans in a rendered plan with a non-empty PushedFilters
    list (text-level twin of read_schema_cols)."""
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("PushedFilters: [")
        and not line.strip().startswith("PushedFilters: []")
    )
