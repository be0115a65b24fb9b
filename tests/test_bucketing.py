"""Bucketed co-located joins — the 100 TB pattern for repeated fact-fact
joins: pay the shuffle ONCE at write time (bucketBy on the join key),
then every subsequent join is exchange-free on both sides.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cirro_annotation_spark.plans import physical_plan
from cirro_annotation_spark.suites.util import t
from tests.plan_helpers import count_exchanges


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    t(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_bucketed")
    t(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("ord_bucketed")
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """Sort-merge join over two tables bucketed on the join key: zero
    Exchange nodes (both sides already hash-distributed and sorted)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("li_bucketed")
        orders = spark.table("ord_bucketed")
        joined = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderstatus").agg(F.sum("l_quantity").alias("qty"))
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        # the join itself must not shuffle; the only exchange allowed is
        # the final small aggregation on o_orderstatus.
        assert count_exchanges(joined) <= 1, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unbucketed_join_shuffles_both_sides(spark, sf_dir):
    """Control: the same join over plain parquet shuffles both inputs —
    the delta IS the bucketing payoff."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = t(spark, sf_dir, "lineitem")
        orders = t(spark, sf_dir, "orders")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert count_exchanges(joined) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
