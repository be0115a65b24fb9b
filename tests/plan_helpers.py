"""Plan assertions the plan tests share: each renders the physical plan
once and reads one property of it."""
from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cirro_annotation_spark.plans import physical_plan, read_schema_cols


def has_pushed_filters(df: DataFrame) -> bool:
    """Every scan's filter list non-empty (the strict form the audit
    table reports: one unpushed scan among several reads as '—')."""
    plan = physical_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the parquet ReadSchema (what the scan actually reads)."""
    return read_schema_cols(physical_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = physical_plan(df)  # one JVM explain render, not two
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan — the number every operator should
    minimize. Counts the formatted-explain node headers ``(N) Exchange``,
    which are branch-prefix-proof (tree lines like ``:  +- Exchange (3)``
    are easy to miss) and exclude ReusedExchange."""
    plan = physical_plan(df)
    return len(re.findall(r"^\(\d+\)\s+Exchange\b", plan, flags=re.MULTILINE))
