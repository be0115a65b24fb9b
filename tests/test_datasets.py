"""Dataset-chooser parity surface (ask_dataset.py:13-34 semantics,
non-interactive)."""
from __future__ import annotations

from cirro_annotation_spark.sources.datasets import newest_first_listing
from cirro_annotation_spark.suites.util import t


def test_listing_is_newest_first_and_labeled(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    rows = newest_first_listing(
        o, "o_orderpriority", "o_orderkey", "o_orderdate", limit=20
    ).collect()
    assert len(rows) == 20
    days = [r["created_day"] for r in rows]
    assert days == sorted(days, reverse=True)
    for r in rows:
        assert r["label"].endswith(f" - {r['dataset_id']}")
