"""Plan-assertion tests — the 100 TB hygiene gate (SURVEY.md §4, §7.6).

Correct rows at sf0.001 do not prove the plan survives 1000 executors;
these assertions pin the properties that do: filters pushed to the
parquet scan, scans pruned to referenced columns, small dimensions
broadcast, the manifest pipeline shuffle-free.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from cirro_annotation_spark.plans import physical_plan, read_schema_cols
from cirro_annotation_spark.suites.util import t
from tests.plan_helpers import (
    count_exchanges,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_quantity"
    )
    assert has_pushed_filters(df)


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not scan all 16 lineitem columns."""
    df = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_small_dim_join_broadcasts(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    df = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    assert has_broadcast_join(df)


def test_melt_pipeline_shuffle_free(spark, sf_dir):
    """scan → project → unpivot (Expand) → no Exchange anywhere: the
    manifest pipeline is embarrassingly parallel (SURVEY.md §3.2)."""
    df = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    melted = df.unpivot(["p_partkey"], ["p_retailprice", "p_size"], "k", "v")
    assert count_exchanges(melted) == 0


def test_groupby_is_single_exchange(spark, sf_dir):
    """Partial+final hash aggregation: exactly one shuffle, keyed on the
    group column."""
    df = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    assert count_exchanges(df) == 1


def test_events_ts_normalization_keeps_pushdown(spark, sf_dir):
    """The nanos→timestamp projection must not block predicate pushdown on
    OTHER columns of the events scan."""
    df = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    assert has_pushed_filters(df)


# ---------------------------------------------------------------------------
# Headline-query plan invariants (PLANS.md promoted into CI — a plan
# regression fails pytest, not just the per-round eyeball audit).
# Assertions run on the REGISTERED queries, i.e. exactly what the driver
# and bench execute.
# ---------------------------------------------------------------------------
def _q(name):
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    return QUERIES[name]


def test_q1_single_exchange(spark, sf_dir):
    """Partial+final hash agg: the flagship costs exactly one shuffle."""
    df = _q("q1_pricing_summary")(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_q1_scan_is_pruned_and_pushed(spark, sf_dir):
    df = _q("q1_pricing_summary")(spark, sf_dir)
    assert has_pushed_filters(df)
    cols = scan_read_schema(df)
    assert "l_comment" not in cols and len(cols) <= 8, cols


def test_multiway_join_broadcasts_all_dims(spark, sf_dir):
    """3 dimension tables → 3 BroadcastHashJoins; the fact side shuffles
    once for the aggregation, never for the joins."""

    df = _q("join_multiway")(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_melt_query_zero_exchanges(spark, sf_dir):
    df = _q("melt_unpivot")(spark, sf_dir)
    assert count_exchanges(df) == 0


def test_dedup_exact_shuffles_fingerprint_not_text(spark, sf_dir):
    """The dedup shuffle must carry the 32-byte fingerprint, not the
    document body: 'text' may appear only below the Exchange (scan side),
    never in the Exchange's output attributes."""

    df = _q("dedup_exact")(spark, sf_dir)
    plan = physical_plan(df)
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            args = [l for l in block.splitlines() if "Arguments:" in l]
            assert all("text" not in a for a in args), block


def test_tfidf_single_dag_no_driver_count(spark, sf_dir):
    """N(docs) folds in as a broadcast 1-row agg, so it appears in the
    PLAN (the old d.count() ran a separate eager job and baked a
    literal in). Construction may only launch the parquet footer-read
    jobs a plain table read launches — not a count aggregation."""

    tracker = spark.sparkContext.statusTracker()

    def jobs_during(fn):
        before = len(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(tracker.getJobIdsForGroup(None)) - before

    _, read_jobs = jobs_during(lambda: t(spark, sf_dir, "documents"))
    df, build_jobs = jobs_during(lambda: _q("text_tfidf_top")(spark, sf_dir))
    assert build_jobs <= read_jobs, (build_jobs, read_jobs)
    assert "__n_docs" in physical_plan(df)
    assert df.count() == 20


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted-skew query must actually join on (key, salt): the salt
    column appears in the join's shuffle, the join is a ShuffledHashJoin
    (hinted — broadcast would make salting moot), and no broadcast join
    sneaks in. With ~80% of rows on one key, partitioning WITHOUT the
    salt would put 80% of the fact table on one reducer."""

    df = _q("join_salted_skew")(spark, sf_dir)
    plan = physical_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "__salt" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_similarity_construction_launches_no_job(spark, sf_dir):
    """The query vector folds in as a broadcast 1-row frame
    (operators.similarity.query_vector_frame) — constructing any sim_*
    query must launch no Spark job beyond what a plain table read
    launches (no eager .first() query-vector fetch, no live centroid
    training; round-3 judge item 3)."""
    tracker = spark.sparkContext.statusTracker()

    def jobs_during(fn):
        before = len(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(tracker.getJobIdsForGroup(None)) - before

    _, read_jobs = jobs_during(lambda: t(spark, sf_dir, "embeddings"))
    for name in ("sim_cosine_all", "sim_topk_cosine", "sim_topk_lsh",
                 "sim_topk_ivf", "sim_knn_join_batch", "sim_near_dup_lsh"):
        _, build_jobs = jobs_during(lambda: _q(name)(spark, sf_dir))
        assert build_jobs <= read_jobs, (name, build_jobs, read_jobs)


def test_q6_predicates_all_pushed_single_exchange(spark, sf_dir):
    df = _q("q6_revenue_forecast")(spark, sf_dir)
    assert has_pushed_filters(df)
    assert count_exchanges(df) == 1  # partial->final agg only


def test_q3_broadcast_chain_no_sortmerge(spark, sf_dir):

    df = _q("q3_shipping_priority")(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) == 1  # only the grouped agg shuffles


def test_q7_broadcast_dims_no_sortmerge(spark, sf_dir):
    """Two-sided nation chain: dimension joins broadcast; at most the
    lineitem⋈orders join and the final agg shuffle."""

    df = _q("q7_nation_volume")(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) <= 2


def test_q13_left_join_preserved(spark, sf_dir):
    """The ON-clause priority filter must not degrade the LEFT join to
    inner — zero-order customers are the point of the query."""

    df = _q("q13_customer_distribution")(spark, sf_dir)
    assert "LeftOuter" in physical_plan(df)
    assert count_exchanges(df) == 2  # per-customer agg + distribution agg


def test_q17_decorrelated_two_aggs(spark, sf_dir):
    """Correlated scalar subquery decorrelated: brand-pruned per-part
    avg + final sum — exactly two shuffles, everything else broadcast."""

    df = _q("q17_small_quantity_revenue")(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) == 2


def test_q19_disjunction_single_exchange(spark, sf_dir):
    df = _q("q19_disjunctive_revenue")(spark, sf_dir)
    assert count_exchanges(df) == 1  # partial->final agg only


def test_q22_anti_join_with_broadcast_threshold(spark, sf_dir):
    """Global-average threshold arrives as a broadcast 1-row frame; the
    urgent-orders exclusion is an anti join, never a collected IN-list."""

    df = _q("q22_dormant_high_balance")(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold frame
    assert count_exchanges(df) <= 2


def test_cdc_merge_single_window_exchange(spark, sf_dir):
    """Latest-wins collapse shuffles ONLY the changelog (window by key);
    the base table joins broadcast — it is never repartitioned."""

    df = _q("cdc_merge_upsert")(spark, sf_dir)
    assert "LeftOuter" in physical_plan(df)
    assert count_exchanges(df) == 1


def test_scan_local_doc_queries_shuffle_free(spark, sf_dir):
    """The quality/repetition/redaction/sampling family must be pure
    codegen'd projections: zero exchanges, corpus-size-independent."""
    for name in (
        "docs_gopher_quality_rules",
        "docs_repetition_ratio",
        "text_redact_terms",
        "sample_stratified_hash",
    ):
        df = _q(name)(spark, sf_dir)
        assert count_exchanges(df) == 0, name


def test_int8_cosine_broadcast_only(spark, sf_dir):
    """Quantized cosine: the query vector joins as a broadcast 1-row
    frame; the corpus never shuffles."""

    df = _q("sim_cosine_int8")(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert "BroadcastNestedLoopJoin" in physical_plan(df)


def test_left_outer_band_join_no_cartesian(spark, sf_dir):
    """The time-band left join keeps its equi-key: never a cartesian."""

    df = _q("stream_join_left_batch")(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# TPC-H completion suite (tpch_full.py). Broadcast/semi/anti structure is
# pinned exactly (hinted, so stats-independent); exchange counts use the
# structural value where the plan shape fixes it and an upper bound where
# the optimizer's stats-based join choice may add or remove a shuffle
# between sf tiers.
# ---------------------------------------------------------------------------
def test_q2_shared_partitioning_single_exchange(spark, sf_dir):
    """The explicit repartition(l_partkey) must serve BOTH the
    (partkey, suppkey) aggregate and the per-part min window — one
    exchange total, dims broadcast, never a sort-merge."""

    df = _q("q2_min_cost_supplier")(spark, sf_dir)
    plan = physical_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q4_exists_is_semi_join(spark, sf_dir):
    """EXISTS compiles to a semi join (one output row per order, state
    bounded by the orders side) — never an inner join + distinct."""

    df = _q("q4_order_priority")(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 3


def test_q8_q9_broadcast_dims_no_cartesian(spark, sf_dir):
    """The 7-table chains: every dimension subtree broadcasts; only the
    lineitem⋈orders fact join and the final agg may shuffle."""

    for name, min_bc in (("q8_market_share", 3), ("q9_product_profit", 3)):
        df = _q(name)(spark, sf_dir)
        plan = physical_plan(df)
        assert plan.count("BroadcastHashJoin") >= min_bc, name
        assert "CartesianProduct" not in plan, name
        assert count_exchanges(df) <= 3, name


def test_q11_q15_threshold_is_broadcast_one_row(spark, sf_dir):
    """HAVING-over-scalar-subquery shape: the global threshold arrives as
    a broadcast 1-row frame — the cross join must build on the broadcast
    side (BNLJ or BHJ-cross depending on stats), never materialize as a
    CartesianProduct or a collected literal."""

    for name in ("q11_important_stock", "q15_top_supplier"):
        df = _q(name)(spark, sf_dir)
        plan = physical_plan(df)
        assert "Cross Build" in plan, name
        assert "CartesianProduct" not in plan, name
        assert count_exchanges(df) <= 3, name


def test_q16_denylist_is_anti_join(spark, sf_dir):
    """The supplier exclusion is a broadcast anti join; the variety count
    is the standard two-exchange distinct aggregate."""

    df = _q("q16_part_supplier_variety")(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert count_exchanges(df) == 2, plan


def test_q20_q21_nested_correlations_no_cartesian(spark, sf_dir):
    """Nested semi (q20) and semi+anti self-joins with inequality
    residuals (q21) must stay keyed hash joins — an inequality-only plan
    would be a cartesian explosion at scale."""

    for name, kinds in (
        ("q20_excess_suppliers", ("LeftSemi",)),
        ("q21_waiting_supplier", ("LeftSemi", "LeftAnti")),
    ):
        df = _q(name)(spark, sf_dir)
        plan = physical_plan(df)
        for kind in kinds:
            assert kind in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert count_exchanges(df) <= 4, name


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    """Concat-and-chunk packing costs exactly the per-source window
    shuffle, and that shuffle carries token COUNTS, never text."""

    df = _q("pipeline_pack_sequences")(spark, sf_dir)
    assert count_exchanges(df) == 1
    plan = physical_plan(df)
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            args = [l for l in block.splitlines() if "Arguments:" in l]
            assert all("text" not in a for a in args), block


def test_segment_dedup_shuffles_fingerprints_not_text(spark, sf_dir):
    """After the explode, every exchange carries (doc_id, md5) — the
    document body must never enter a shuffle."""

    df = _q("docs_segment_dedup_ratio")(spark, sf_dir)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 4
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            args = [l for l in block.splitlines() if "Arguments:" in l]
            assert all("text" not in a for a in args), block


def test_mixture_sampling_corpus_never_shuffles(spark, sf_dir):
    """The per-source counts and the global (total, W) pair are tiny
    aggregates joined back by broadcast (the per_src subtree appears
    twice pre-AQE, so up to 3 aggregate exchanges) — but the corpus side
    itself is filtered scan-locally: no exchange may sit between the
    documents scan and the broadcast joins."""

    df = _q("sample_mixture_weighted")(spark, sf_dir)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 3, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # The probe (streaming) side of each broadcast join is the corpus
    # scan: in the tree rendering its branch lines start with ':- ' and
    # must contain no shuffle Exchange (BroadcastExchange is fine).
    probe_lines = [
        l for l in plan.splitlines()
        if l.strip().startswith(":-") or ":  +-" in l
    ]
    assert not any(
        "Exchange" in l and "BroadcastExchange" not in l for l in probe_lines
    ), plan


def test_resample_ffill_single_window_pass(spark, sf_dir):
    """The union-trick gap-fill does ONE per-user window pass — no
    per-bucket correlated join, no as-of fan-out: exactly the union's
    two input shuffles plus the grid's distinct, and exactly one Window
    operator."""

    df = _q("events_resample_ffill")(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count(") Window") == 1, plan
    assert "Join" not in plan, plan
    assert count_exchanges(df) <= 3, plan


def test_token_entropy_two_narrow_shuffles(spark, sf_dir):
    """Explode → (doc, token) count → per-doc rollup: two map-side-
    combining exchanges, text never shuffles."""

    df = _q("docs_token_entropy")(spark, sf_dir)
    assert count_exchanges(df) == 2
    plan = physical_plan(df)
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            args = [l for l in block.splitlines() if "Arguments:" in l]
            assert all("text" not in a for a in args), block


def test_chunk_overlap_scan_local(spark, sf_dir):
    """Chunking is explode-only: zero exchanges, and the scan reads just
    (doc_id, text) — fan-out happens inside the scan stage."""
    df = _q("docs_chunk_overlap")(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert set(scan_read_schema(df)) == {"doc_id", "text"}


def test_rag_retrieval_broadcasts_topk(spark, sf_dir):
    """The k-row top-k side must broadcast onto the documents scan — the
    corpus itself never shuffles (only the top-k's own
    TakeOrderedAndProject funnel appears)."""

    df = _q("rag_retrieve_context")(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_survivor_corpus_broadcasts_and_never_shuffles_text(spark, sf_dir):
    """Survivor hydration: broadcast join onto documents; every Exchange
    argument carries ids/cluster labels, never the text column."""

    df = _q("dedup_survivor_corpus")(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            args = [l for l in block.splitlines() if "Arguments:" in l]
            assert all("text" not in a for a in args), block


def test_runtime_bloom_filter_injected_on_selective_shuffle_join(spark, sf_dir):
    """Runtime bloom-filter injection (session.py enables
    spark.sql.optimizer.runtime.bloomFilter): a selective dim filter on
    the creation side of a SHUFFLE join must inject might_contain onto
    the big-side scan, so at 100 TB the fact table is row-filtered at
    the scan instead of shuffling rows the join will drop. Thresholds
    are lowered only inside this test (the defaults — 10 GB application
    side — are the right production gates; sf0.01 is below them)."""
    from pyspark.sql import functions as F
    from cirro_annotation_spark.suites.util import t

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = t(spark, sf_dir, "lineitem")
        orders = t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_r10_topk_queries_use_takeordered(spark, sf_dir):
    """Every round-10 top-k query must rank through orderBy+limit =>
    TakeOrderedAndProject (per-partition heaps), never a global
    row_number window over the full candidate frame (the single-
    partition sort that dies at 1000 executors)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    for name in (
        "text_collocations_pmi",
        "graph_link_prediction",
        "text_rake_keyphrases",
        "text_kn_bigram_lm",
        "sim_topk_binary",
    ):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, name


def test_forecast_folds_are_single_exchange_per_stage(spark, sf_dir):
    """EWMA / Holt / backtest: one shuffle to the (type, day) rollup,
    one to the per-type series — the fold itself adds NO exchange
    (it is one codegen'd expression, not an iterative join)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    for name in (
        "events_ewma_daily",
        "events_holt_linear_daily",
        "events_forecast_backtest",
    ):
        assert count_exchanges(QUERIES[name](spark, sf_dir)) <= 2, name


def test_bootstrap_replicates_never_shuffle_raw_rows(spark, sf_dir):
    """The 100x replicate explode must combine map-side: the only
    exchanges carry the |types| x 100 cell frame and the tiny CI
    stages — never (rows x replicates). Pinned as: every exchange in
    the plan sits ABOVE a partial aggregation (no exchange directly
    over the generator)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    plan = (
        QUERIES["events_bootstrap_ci"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # the explode (Generate) must feed a partial HashAggregate before
    # any Exchange: in the plan STRING, the first Exchange below the
    # Generate node would print between Generate and its aggregate
    gen = plan.find("Generate explode")
    assert gen != -1
    # parents print before children: the NEAREST Exchange above the
    # generator must have a HashAggregate between itself and the
    # generator — i.e. the shuffle carries aggregated cells, not the
    # exploded rows
    last_exch = plan.rfind("Exchange", 0, gen)
    assert last_exch != -1
    assert plan.find("HashAggregate", last_exch, gen) != -1, (
        "exchange sits directly over the replicate generator"
    )


def test_r10_final_wave_plan_shapes(spark, sf_dir):
    """Final-wave pins: the basket top-20 ranks through
    TakeOrderedAndProject; the LATERAL subquery decorrelates into one
    rank window (no nested-loop / cartesian re-execution per outer
    row); the RFM query never plants a partition-less window (the
    single-partition global-sort trap its distributed ranks exist to
    avoid); the burst/conformal folds add no exchange beyond rollup +
    series (the forecast-fold discipline)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()

    def plan_str(name):
        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    assert "TakeOrderedAndProject" in plan_str("basket_assoc_rules")

    lat = plan_str("sql_lateral_topk")
    assert "Window" in lat
    assert "CartesianProduct" not in lat and "BroadcastNestedLoop" not in lat

    rfm = plan_str("orders_rfm_segments")
    # a global (partition-less) window prints as: Window [...], [col ASC ...]
    # with NO partition spec between the function list and the order spec;
    # every window here must be partitioned by __pid
    for line in rfm.splitlines():
        if "Window " in line and "windowspecdefinition" in line:
            assert "__pid" in line, line

    # The burst fold is the events_ewma_daily shape: rollup + series,
    # nothing else. (Conformal is NOT exchange-pinned: its residual
    # frame is a LAZY checkpoint feeding three consumers — the
    # pre-execution plan string still prints the un-truncated lineage,
    # so an exchange count would pin the printer, not the runtime.)
    assert count_exchanges(QUERIES["events_burst_hysteresis"](spark, sf_dir)) <= 2


def test_r12_plan_shapes(spark, sf_dir):
    """Round-12 plan pins: (a) docs_url_canonical_dedup's per-host cap
    is the salted two-phase bounded rank — every rank phase plans as
    WindowGroupLimit (rank-limit pushdown, <= k rows survive each sort
    group BEFORE its exchange) and the <=5-per-host survivors broadcast
    into the final join; a regression back to the unbounded per-host
    window would drop the WindowGroupLimits and the broadcast. (b)
    sample_es_reservoir ranks through TakeOrderedAndProject with the
    n_chars > 0 filter pushed to the parquet scan. (c)
    docs_domain_quality_gate broadcasts its threshold frame."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    url = (
        QUERIES["docs_url_canonical_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert url.count("WindowGroupLimit") >= 4  # partial+final per phase
    assert "BroadcastHashJoin" in url

    es = (
        QUERIES["sample_es_reservoir"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in es
    assert "GreaterThan(n_chars,0)" in es  # pushed filter

    gate = (
        QUERIES["docs_domain_quality_gate"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in gate


def test_r12b_plan_shapes(spark, sf_dir):
    """Round-12b plan pins: (a) layout_zorder_stats computes the Morton
    value scan-locally — no Python UDF anywhere, bounds arrive via
    BroadcastExchange (the nested-loop broadcast of the 1-row frame);
    (b) agg_mode_per_group's rank-1 filter plans as WindowGroupLimit
    (per-input-partition top-1 before the final sort group); (c)
    orders_abc_analysis carries its offset and total frames as
    broadcasts — no data-sized single-partition exchange; (d)
    events_attribution_linear's band join is a real equi-join on
    user_id (no CartesianProduct); (e) sim_silhouette_ivf is pure
    scan-side codegen — no explode (Generate) and no shuffle before
    the final 8-cell aggregate's single exchange."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()

    def plan(name):
        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    z = plan("layout_zorder_stats")
    assert "BroadcastExchange" in z or "BroadcastNestedLoopJoin" in z
    assert "BatchEvalPython" not in z and "PythonUDF" not in z

    mode = plan("agg_mode_per_group")
    assert "WindowGroupLimit" in mode

    abc = plan("orders_abc_analysis")
    assert abc.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in abc or abc.count("BroadcastHashJoin") >= 2

    attr = plan("events_attribution_linear")
    assert "CartesianProduct" not in attr

    sil = QUERIES["sim_silhouette_ivf"](spark, sf_dir)
    assert "Generate" not in plan("sim_silhouette_ivf")
    assert count_exchanges(sil) == 1


def test_read_schema_cols_nested_struct_counts_top_level():
    """Bracket-depth parsing: nested struct/map fields are ONE top-level
    column each — the naive comma split miscounted them, and the count
    feeds the committed fingerprint scan_cols axis (ADVICE r14)."""

    plan = (
        "(1) Scan parquet\n"
        "ReadSchema: struct<id:bigint,payload:struct<a:int,b:int>,"
        "tags:array<string>,kv:map<string,struct<x:int,y:int>>,s:string>\n"
    )
    assert read_schema_cols(plan) == ["id", "payload", "tags", "kv", "s"]

    flat = "ReadSchema: struct<l_extendedprice:decimal(12,2),l_discount:decimal(12,2)>"
    assert read_schema_cols(flat) == ["l_extendedprice", "l_discount"]
