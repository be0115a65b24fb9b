"""Property tests for the fixed-point PageRank operator."""
from __future__ import annotations

from cirro_annotation_spark.operators.graph import PR_SCALE, pagerank_fixed_point


def _ranks(spark, pairs, iterations=5):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r.node: r.pr
        for r in pagerank_fixed_point(edges, iterations=iterations).collect()
    }


def test_two_node_cycle_symmetric(spark):
    # a <-> b: perfect symmetry must give identical ranks, each ~SCALE/2.
    pr = _ranks(spark, [(1, 2), (2, 1)])
    assert pr[1] == pr[2]
    assert abs(pr[1] - PR_SCALE // 2) < PR_SCALE // 100


def test_star_hub_dominates(spark):
    # spokes all point at the hub (and hub back, so no dangling sinks):
    # the hub must outrank every spoke, spokes tie exactly.
    spokes = list(range(1, 6))
    pairs = [(s, 0) for s in spokes] + [(0, s) for s in spokes]
    pr = _ranks(spark, pairs)
    assert all(pr[0] > pr[s] for s in spokes)
    assert len({pr[s] for s in spokes}) == 1


def test_rank_mass_conserved_within_rounding(spark):
    # Total mass stays ~SCALE: floor divisions only ever LOSE units,
    # bounded by (#edges + #nodes) per iteration.
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)]
    pr = _ranks(spark, pairs)
    total = sum(pr.values())
    assert total <= PR_SCALE
    assert total > PR_SCALE - 10_000


def test_deterministic_across_runs(spark):
    pairs = [(i, (i * 7) % 23) for i in range(100)]
    a = _ranks(spark, pairs, iterations=4)
    b = _ranks(spark, pairs, iterations=4)
    assert a == b


def test_oracle_generator_matches_spark_on_random_graphs(spark):
    """Engine-pair property: pagerank_fixed_point and the SQL emitted by
    pagerank_oracle_sql must agree EXACTLY (integer fixed-point) on
    arbitrary graphs — this validates the oracle generator itself, not
    just the one registered fixture query."""
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import pagerank_oracle_sql

    rng = random.Random(123)
    for trial in range(4):
        n_nodes = rng.randint(5, 40)
        n_edges = rng.randint(n_nodes, n_nodes * 4)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        iters = rng.randint(1, 6)

        edges = spark.createDataFrame(pairs, "src long, dst long")
        got = {
            r.node: r.pr
            for r in pagerank_fixed_point(edges, iterations=iters).collect()
        }

        con = duckdb.connect()
        con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
        con.executemany("INSERT INTO raw VALUES (?, ?)", pairs)
        sql = pagerank_oracle_sql("SELECT src, dst FROM raw", iterations=iters)
        want = dict(con.execute(sql).fetchall())
        assert got == want, f"trial {trial}: engines disagree"


def test_personalized_mass_stays_in_seed_component(spark):
    """Two disconnected components; seeds in one — the other component
    must end with exactly zero mass (proximity, not centrality)."""
    from cirro_annotation_spark.operators.graph import (
        pagerank_personalized_fixed_point,
    )

    pairs = [(1, 2), (2, 1), (3, 4), (4, 3)]  # components {1,2} and {3,4}
    edges = spark.createDataFrame(pairs, "src long, dst long")
    pr = {
        r.node: r.pr
        for r in pagerank_personalized_fixed_point(edges, seeds=[1]).collect()
    }
    assert pr[3] == 0 and pr[4] == 0
    assert pr[1] > 0 and pr[2] > 0
    # (no ordering assertion between 1 and 2: a 2-cycle is bipartite, so
    # the mass oscillates between the sides per iteration — expected
    # power-iteration behavior, damped only gradually by the teleport)


def test_personalized_oracle_generator_matches_spark(spark):
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import (
        pagerank_personalized_fixed_point,
        pagerank_personalized_oracle_sql,
    )

    rng = random.Random(99)
    pairs = [(rng.randrange(20), rng.randrange(20)) for _ in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
    seeds = [0, 1]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.node: r.pr
        for r in pagerank_personalized_fixed_point(
            edges, seeds, iterations=4
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", pairs)
    sql = pagerank_personalized_oracle_sql(
        "SELECT src, dst FROM raw", seeds, iterations=4
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_uniform_pagerank_is_personalized_with_every_node_a_seed(spark):
    """The contract both PageRank forms share: with every node a seed,
    tele(v) and pr_0(v) are the uniform ones, so the personalized ranks
    equal the uniform ranks exactly, on Spark and in the oracle SQL."""
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import (
        pagerank_oracle_sql,
        pagerank_personalized_fixed_point,
        pagerank_personalized_oracle_sql,
    )

    rng = random.Random(15)
    for trial in range(3):
        n_nodes = rng.randint(4, 15)
        pairs = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(3 * n_nodes)]
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        seeds = sorted({n for pair in pairs for n in pair})
        iters = rng.randint(1, 5)
        edges = spark.createDataFrame(pairs, "src long, dst long")
        uniform = pagerank_fixed_point(edges, iterations=iters).collect()
        personalized = pagerank_personalized_fixed_point(edges, seeds, iterations=iters)
        assert sorted(uniform) == sorted(personalized.collect()), f"trial {trial}"

        con = duckdb.connect()
        con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
        con.executemany("INSERT INTO raw VALUES (?, ?)", pairs)
        cte = "SELECT src, dst FROM raw"
        want = sorted(con.execute(pagerank_oracle_sql(cte, iterations=iters)).fetchall())
        sql = pagerank_personalized_oracle_sql(cte, seeds, iterations=iters)
        assert sorted(con.execute(sql).fetchall()) == want, f"trial {trial}"
        assert sorted(tuple(r) for r in uniform) == want, f"trial {trial}"


# ---------------------------------------------------------------------------
# triangle_count_per_node


def _tri(spark, pairs):
    from cirro_annotation_spark.operators.graph import triangle_count_per_node

    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = triangle_count_per_node(edges).collect()
    return {r["node"]: r["tri_count"] for r in rows}


def test_triangle_k4_every_node_in_three(spark):
    # K4 has C(4,3)=4 triangles; every vertex sits in exactly 3.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    assert _tri(spark, k4) == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_path_graph_has_none(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}


def test_triangle_single_plus_pendant(spark):
    # One triangle {1,2,3} plus a pendant edge 3-4: node 4 excluded.
    got = _tri(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_input_canonicalised(spark):
    # Reversed duplicates and self-loops must not inflate counts.
    messy = [(2, 1), (1, 2), (2, 3), (3, 2), (1, 3), (1, 1)]
    assert _tri(spark, messy) == {1: 1, 2: 1, 3: 1}


def test_triangle_matches_oracle_on_random_graph(spark):
    """Degree-ordered plan vs the naive id-ordered oracle on a seeded
    G(n, p) graph — the cross-engine generator-parity discipline."""
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import triangle_oracle_sql

    rng = random.Random(7)
    pairs = [
        (a, b) for a in range(1, 30) for b in range(1, 30)
        if a < b and rng.random() < 0.25
    ]
    got = _tri(spark, pairs)
    values = " UNION ALL ".join(f"SELECT {a} AS src, {b} AS dst" for a, b in pairs)
    want = {
        int(n): int(c)
        for n, c in duckdb.sql(triangle_oracle_sql(values)).fetchall()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# kcore_peel


def _core(spark, pairs, k, rounds):
    from cirro_annotation_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = kcore_peel(edges, k=k, rounds=rounds).collect()
    return {r["node"]: r["deg"] for r in rows}


def test_kcore_k5_survives_pendant_path_peels(spark):
    # K5 (every deg 4) + pendant path 5-6-7: 3-core = the K5 alone.
    k5 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    got = _core(spark, k5 + [(5, 6), (6, 7)], k=3, rounds=5)
    assert got == {n: 4 for n in range(1, 6)}


def test_kcore_rounds_past_fixpoint_are_noops(spark):
    k5 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    pairs = k5 + [(5, 6), (6, 7)]
    assert _core(spark, pairs, k=3, rounds=2) == _core(spark, pairs, k=3, rounds=9)


def test_kcore_cascade_is_simultaneous_per_round(spark):
    # Path 1-2-3-4-5-6 at k=2: each round removes BOTH current endpoints
    # simultaneously. rounds=1 leaves 2-3-4-5, rounds=2 leaves 3-4,
    # rounds=3 empties (3-4 have deg 1 < 2).
    path = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    assert set(_core(spark, path, k=2, rounds=1)) == {2, 3, 4, 5}
    assert set(_core(spark, path, k=2, rounds=2)) == {3, 4}
    assert _core(spark, path, k=2, rounds=3) == {}


def test_kcore_matches_oracle_on_random_graph(spark):
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import kcore_oracle_sql

    rng = random.Random(3)
    pairs = [
        (a, b) for a in range(1, 25) for b in range(1, 25)
        if a < b and rng.random() < 0.3
    ]
    got = _core(spark, pairs, k=5, rounds=6)
    values = " UNION ALL ".join(f"SELECT {a} AS src, {b} AS dst" for a, b in pairs)
    want = {
        int(n): int(d)
        for n, d in duckdb.sql(kcore_oracle_sql(values, k=5, rounds=6)).fetchall()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# bfs_hops


def _bfs(spark, pairs, sources, hops):
    from cirro_annotation_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = bfs_hops(edges, sources, hops).collect()
    return {r["node"]: r["dist"] for r in rows}


def test_bfs_path_distances(spark):
    # Directed path 1->2->3->4->5: 3 hops from node 1 reach 4.
    path = [(i, i + 1) for i in range(1, 5)]
    assert _bfs(spark, path, [1], 3) == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_min_distance_wins_on_multiple_seeds(spark):
    # Seeds at both ends of a path: middle node takes the nearer seed.
    path = [(1, 2), (2, 3), (3, 4), (4, 5)] + [(5, 4), (4, 3), (3, 2), (2, 1)]
    got = _bfs(spark, path, [1, 5], 2)
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_cycle_does_not_revisit(spark):
    cyc = [(1, 2), (2, 3), (3, 1)]
    assert _bfs(spark, cyc, [1], 5) == {1: 0, 2: 1, 3: 2}


def test_bfs_matches_oracle_on_random_graph(spark):
    import random

    import duckdb

    from cirro_annotation_spark.operators.graph import bfs_oracle_sql

    rng = random.Random(5)
    pairs = [
        (a, b) for a in range(1, 30) for b in range(1, 30)
        if a != b and rng.random() < 0.08
    ]
    got = _bfs(spark, pairs, [1, 2], 4)
    values = " UNION ALL ".join(f"SELECT {a} AS src, {b} AS dst" for a, b in pairs)
    want = {
        int(n): int(d)
        for n, d in duckdb.sql(bfs_oracle_sql(values, [1, 2], 4)).fetchall()
    }
    assert got == want and len(want) > 2


def test_kcore_query_nonvacuous_at_sf001(spark):
    """Round-6 advice: graph_kcore_parts is empty-vs-empty at sf0.001
    (k=80 peels the tiny graph to nothing), so its oracle parity would
    stay green even if the operator broke. Pin the tier where the core
    is NON-empty (sf0.01 today) so a regenerated fixture that empties
    every tier turns this red instead of leaving parity vacuous."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    n = QUERIES["graph_kcore_parts"](spark, "/root/testdata/sf0.01").count()
    assert n > 0, (
        "graph_kcore_parts produced an empty k-core at every fixture "
        "tier — oracle parity is vacuous; retune k for the new fixture"
    )


def test_label_propagation_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: after 3 min-tie rounds
    every node must carry its own clique's minimum id — the bridge must
    NOT merge the communities (each endpoint's 3 intra-clique votes
    outvote the single cross-edge vote). Checked against a sequential
    reference LPA of the same tie rule."""
    from cirro_annotation_spark.operators.graph import label_propagation

    cliques = [[0, 1, 2, 3], [10, 11, 12, 13]]
    edges = [
        (a, b)
        for cl in cliques
        for i, a in enumerate(cl)
        for b in cl[i + 1:]
    ] + [(3, 10)]
    undirected = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(undirected, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=3, checkpoint=False).collect()
    }

    adj = {}
    for a, b in undirected:
        adj.setdefault(a, []).append(b)
    labels = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v, nbrs in adj.items():
            votes = [labels[u] for u in nbrs]
            nxt[v] = min(
                sorted(set(votes), key=lambda lab: (-votes.count(lab), lab))[:1]
            )
        labels = nxt
    assert got == labels
    assert all(got[v] == 0 for v in cliques[0])
    assert all(got[v] == 10 for v in cliques[1])


def test_label_propagation_directed_sinks_keep_labels(spark):
    """Round-8 review catch: on a DIRECTED edge list a sink node (never
    a src) used to vanish after round 1. Chain 1 -> 2 -> 3: node 3 is a
    pure sink and must survive with its own label; 1 and 2 adopt their
    successor's (unchanging) initial labels transitively."""
    from cirro_annotation_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=2, checkpoint=False).collect()
    }
    # round 1: 1<-label(2)=2, 2<-label(3)=3, 3 keeps 3
    # round 2: 1<-label(2)=3, 2<-3, 3 keeps 3
    assert got == {1: 3, 2: 3, 3: 3}


def test_link_prediction_planted_twins_rank_first(spark, tmp_path):
    """Two customers with IDENTICAL supplier sets must rank first with
    jaccard exactly 1e6 ppm, and their Adamic-Adar score must equal the
    Python floor(1e12/ln(deg)) sum over the shared suppliers. Repeat
    filter pinned: a (c,s) pair with a single lineitem contributes no
    edge."""
    import math

    orders, lineitem = [], []
    oid = eid = 0

    def trade(cust, supp, n_li):
        nonlocal oid, eid
        oid += 1
        orders.append((oid, cust))
        for _ in range(n_li):
            eid += 1
            lineitem.append((oid, supp))

    # twins 1 and 2 both repeat-trade with suppliers 10 and 11
    for cust in (1, 2):
        for supp in (10, 11):
            trade(cust, supp, 2)
    # customer 3 shares only supplier 10, plus private supplier 12
    trade(3, 10, 2)
    trade(3, 12, 2)
    # customer 4 touches supplier 11 ONCE — filtered out (no edge)
    trade(4, 11, 1)
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "g") + "/orders.parquet")
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "g") + "/lineitem.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = sorted(
        QUERIES["graph_link_prediction"](spark, str(tmp_path / "g")).collect(),
        key=lambda r: r["pair_rank"],
    )
    top = out[0]
    assert (top["cust_a"], top["cust_b"]) == (1, 2)
    assert top["jaccard_ppm"] == 1_000_000 and top["n_common"] == 2
    # deg(10) = 3 (custs 1,2,3), deg(11) = 2 (cust 4's single-lineitem
    # touch is filtered)
    want_aa = math.floor(1e12 / math.log(3)) + math.floor(1e12 / math.log(2))
    assert top["aa_score"] == want_aa
    # customer 4 appears in NO pair
    assert all(4 not in (r["cust_a"], r["cust_b"]) for r in out)


def test_assortativity_star_is_minus_one(spark):
    """A star K_{1,3} (hub co-occurring with one leaf per order) has
    every edge joining deg-3 to deg-1: perfect disassortativity,
    r = -1 exactly."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    # orders (1,2,3) each contain the hub part 10 and one leaf part
    rows = [
        (1, 10, 1, 1), (1, 20, 1, 2),
        (2, 10, 1, 1), (2, 30, 1, 2),
        (3, 10, 1, 1), (3, 40, 1, 2),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int"
        ).toPandas().to_parquet(os.path.join(tmp, "lineitem.parquet"))
        out = QUERIES["graph_degree_assortativity"](spark, tmp).collect()
    assert len(out) == 1
    assert out[0]["n_edges"] == 3
    assert out[0]["assortativity"] == -1.0


def test_lp_modularity_bipartite_oscillation_exact(spark):
    """Synchronous LP on a bipartite star OSCILLATES (the classic
    two-coloring flip), so after 3 rounds each disjoint star splits
    into {center} and {leaves} — 4 communities, zero intra-community
    edges, and modularity EXACTLY -(sum D_c^2)/(2m)^2 = -4*4/64 =
    -0.25. The test pins that the query reports the honest algebra of
    the synchronous fixed-round state (both engines replay the same
    rounds), not an idealized converged community."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    # component 1: customer 1 with suppliers 1,2; component 2:
    # customer 2 with suppliers 3,4 -> 4 undirected edges, 2 components
    orders = [(1, 1), (2, 1), (3, 2), (4, 2)]
    lineitem = [(1, 1), (2, 2), (3, 3), (4, 4)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long"
        ).toPandas().to_parquet(os.path.join(tmp, "orders.parquet"))
        spark.createDataFrame(
            lineitem, "l_orderkey long, l_suppkey long"
        ).toPandas().to_parquet(os.path.join(tmp, "lineitem.parquet"))
        out = QUERIES["graph_lp_modularity"](spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert r["m_edges"] == 4
    assert r["n_communities"] == 4
    assert r["modularity"] == -0.25


def test_pagerank_empty_inputs_raise_cleanly(spark):
    import pytest as _pytest

    from cirro_annotation_spark.operators.graph import (
        pagerank_fixed_point,
        pagerank_personalized_fixed_point,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    with _pytest.raises(ValueError, match="empty edge frame"):
        pagerank_fixed_point(empty, "src", "dst")
    some = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="empty seeds"):
        pagerank_personalized_fixed_point(some, [], "src", "dst")
