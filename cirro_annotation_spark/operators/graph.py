"""Iterative graph operators (PageRank) — the power-iteration sibling of
the connected-components family in ``operators/dedup.py``.

Reference parity note: the reference (CirroBio/Cirro-Annotation) has no
graph operators; this module belongs to the large-scale-pipeline
extension surface (link-graph ranking for crawl prioritization and
source weighting). The design follows the public Pregel/GraphX
formulation re-expressed as DataFrame joins.

Determinism contract: ranks are BIGINT fixed-point (SCALE = 1e12
units) and every division is FLOOR division, so each iteration is
exact integer arithmetic — associative, engine-portable, and immune to
the float-summation-order divergence that makes naive double PageRank
unhashable across engines (the events_interarrival lesson, applied to
an iterative op).

Scale shape (100 TB link graph): each round is one shuffle — edges
join ranks on src (both sides partitioned by the join key; Catalyst
reuses the exchange across rounds when the partitioning matches), then
a dst-keyed sum whose map-side partial combine collapses contributions
before the shuffle. ``localCheckpoint`` truncates lineage per round
exactly like connected_components (operators/dedup.py) so plan size
stays O(1) in rounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 10**12
PR_D_NUM = 85  # damping factor d = 85/100
PR_D_DEN = 100


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    checkpoint: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge list.

    pr_0(v)    = SCALE // N
    pr_{k+1}(v) = teleport + Σ_{u→v} (pr_k(u) * 85) // (outdeg(u) * 100)
    teleport    = (15 * SCALE) // (100 * N)

    Returns (node, pr) with pr in SCALE units as BIGINT. Nodes are the
    union of src and dst endpoints. Dangling mass (nodes with no
    out-edges) is dropped, as in the common simplified formulation —
    both engines apply the identical rule so parity holds.
    """
    e, nodes = _pagerank_graph(edges, src, dst, checkpoint, assume_distinct)
    n_nodes = nodes.count()  # scalar model state: one number
    if n_nodes == 0:
        raise ValueError(
            "pagerank_fixed_point: empty edge frame (no vertices) — "
            "an upstream filter matched nothing"
        )
    teleport = (PR_SCALE - PR_D_NUM * PR_SCALE // PR_D_DEN) // n_nodes
    ranks = nodes.withColumn("pr", F.lit(PR_SCALE // n_nodes).cast("long"))
    return _power_iterate(e, nodes, F.lit(teleport), ranks, iterations, checkpoint)


def pagerank_oracle_sql(
    edges_cte: str, iterations: int = 5, scale: int = PR_SCALE
) -> str:
    """Unrolled-CTE DuckDB oracle for pagerank_fixed_point. ``edges_cte``
    is a SQL query yielding (src, dst)."""
    n = "COUNT(*) OVER ()"
    return _pagerank_oracle_sql(
        edges_cte,
        f"SELECT node, ({scale} - {PR_D_NUM} * {scale} // {PR_D_DEN}) // {n} "
        "AS tele FROM nodes",
        f"SELECT node, CAST({scale} // {n} AS BIGINT) AS pr FROM nodes",
        iterations,
    )


def _pagerank_graph(
    edges: DataFrame, src: str, dst: str, checkpoint: bool, assume_distinct: bool
) -> tuple[DataFrame, DataFrame]:
    """The edge frame (src, dst) and the node set (node) of both PageRank
    forms; with ``checkpoint`` the node set is materialized here."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    if checkpoint:
        # The edge frame feeds BOTH static derivations (node set,
        # degree-annotated list) — without this lazy checkpoint the
        # upstream edge pipeline (often a fact-table join + distinct)
        # runs twice, once per eager materialization (optimization r15:
        # 4.2 -> 3.5 s for the 5-round trade pagerank at sf0.1).
        e = e.localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if checkpoint:
        # Materialize the static frames ONCE — without this, every
        # power iteration re-derives the upstream edge pipeline (joins,
        # distincts) from scratch: 5 rounds cost 5x the input scan.
        nodes = nodes.repartition("node").localCheckpoint(eager=True)
    return e, nodes


def _power_iterate(
    e: DataFrame,
    nodes: DataFrame,
    tele: Column,
    ranks: DataFrame,
    iterations: int,
    checkpoint: bool,
) -> DataFrame:
    """``iterations`` rounds of
    pr_{k+1}(v) = tele(v) + Σ_{u→v} (pr_k(u) * 85) // (outdeg(u) * 100)
    from ``ranks`` (node, pr), with ``tele`` a column over ``nodes``."""
    # outdeg via a src-partitioned window: ONE exchange yields the
    # degree-annotated edge list already partitioned on the per-round
    # join key (a groupBy+join formulation costs two more), so the
    # iteration's join reuses the partitioning instead of re-exchanging
    # the (large) edge side each round.
    w_src = Window.partitionBy("src")
    e_deg = e.select("src", "dst", F.count("*").over(w_src).alias("outdeg"))
    if checkpoint:
        e_deg = e_deg.localCheckpoint(eager=True)
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(pr * {PR_D_NUM}) div (outdeg * {PR_D_DEN})").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (tele + F.coalesce(F.col("inflow"), F.lit(0))).cast("long").alias("pr"),
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _pagerank_oracle_sql(edges_cte: str, nt: str, it0: str, iterations: int) -> str:
    """The unrolled-CTE DuckDB chain of :func:`_power_iterate`: one CTE
    per power iteration, identical integer arithmetic. ``nt`` selects
    (node, tele) and ``it0`` the starting (node, pr), both from ``nodes``."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte})),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        f"nt AS ({nt}),",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),",
        f"it0 AS ({it0}),",
    ]
    for k in range(iterations):
        parts.append(
            f"c{k} AS (SELECT e.dst AS node, "
            f"SUM((it{k}.pr * {PR_D_NUM}) // (deg.outdeg * {PR_D_DEN})) AS inflow "
            f"FROM e JOIN deg USING (src) JOIN it{k} ON it{k}.node = e.src "
            "GROUP BY e.dst),"
        )
        parts.append(
            f"it{k + 1} AS (SELECT nt.node, "
            f"CAST(nt.tele + COALESCE(c{k}.inflow, 0) AS BIGINT) AS pr "
            f"FROM nt LEFT JOIN c{k} USING (node)),"
        )
    body = "\n".join(parts).rstrip(",")
    return body + f"\nSELECT node, pr FROM it{iterations}"


def triangle_count_per_node(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered wedge enumeration.

    Returns (node, tri_count) for every node that participates in at
    least one triangle. The input is an undirected edge list; it is
    canonicalised to src < dst and deduped unless ``assume_canonical``.

    Scale shape (the Suri–Vassilvitskii / Cohen MapReduce formulation,
    public literature): orienting every edge from its LOWER-degree
    endpoint to its higher-degree endpoint (ties broken by node id)
    turns the graph into a DAG where each node's out-degree is
    O(sqrt(m)), so total triangle work is O(m^1.5) worst-case INSTEAD
    of sum(deg^2) — on a skewed web/link graph the hub's deg² term is
    the difference between feasible and not. This is the EDGE-ITERATOR
    realization: build each node's out-neighbor array once (one
    shuffle, arrays bounded by the sqrt(m) orientation cap), annotate
    every oriented edge (u,v) with N+(u) and N+(v) (two joins keyed on
    a node id — AQE broadcasts the adjacency side when it fits), and
    count |N+(u) ∩ N+(v)| in a codegen'd array_intersect. A naive
    wedge SELF-JOIN instead materializes every wedge as a shuffle row
    — measured 6× slower at sf0.1 (35M wedge rows through an exchange
    vs the intersection never leaving the stage). Each triangle is
    found exactly once (at its lowest-order vertex's edge), then
    charged to u and v by intersection size and to each w by an
    ids-only explode.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("src"),
        F.greatest(F.col(src), F.col(dst)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    if not assume_canonical:
        e = e.distinct()
    # The canonical edge set feeds three consumers (degree agg, the
    # orientation annotation, the closing-edge probe) — materialize it
    # ONCE or the upstream derivation (often a fact-table self-join)
    # runs three times.
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orient by (deg, node): strict total order, so exactly one
    # direction per edge. The re-join annotates both endpoints; the
    # oriented frame is materialized once (it feeds the join twice).
    da, db = deg.alias("da"), deg.alias("db")
    ann = (
        e.join(da, F.col("src") == F.col("da.node"))
        .join(db, F.col("dst") == F.col("db.node"))
        .select(
            "src",
            "dst",
            F.col("da.deg").alias("deg_s"),
            F.col("db.deg").alias("deg_d"),
        )
    )
    lo_first = (F.col("deg_s") < F.col("deg_d")) | (
        (F.col("deg_s") == F.col("deg_d")) & (F.col("src") < F.col("dst"))
    )
    oriented = ann.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    ).localCheckpoint(eager=True)
    # Out-neighbor adjacency arrays, one row per node with out-edges.
    # The orientation caps every array at O(sqrt(m)) elements, so no
    # row is hub-sized even on a power-law graph.
    adj = (
        oriented.groupBy(F.col("lo").alias("n"))
        .agg(F.collect_list("hi").alias("nbrs"))
        .localCheckpoint(eager=True)  # self-joined twice below
    )
    au, av = adj.alias("au"), adj.alias("av")
    annotated = (
        oriented.join(au, F.col("lo") == F.col("au.n"))
        .join(av, F.col("hi") == F.col("av.n"))
        .select(
            F.col("lo").alias("u"),
            F.col("hi").alias("v"),
            F.array_intersect(F.col("au.nbrs"), F.col("av.nbrs")).alias("ws"),
        )
        .filter(F.size("ws") > 0)
        # Both union branches below consume this frame — without a
        # materialization the join/intersect pipeline executes twice
        # (observed in the physical plan as a duplicated subtree).
        .localCheckpoint(eager=True)
    )
    # Charge each triangle (u, v, w): u and v by intersection size in
    # one pass, every w by an ids-only explode (#triangles rows).
    uv = annotated.select(
        F.explode(F.array("u", "v")).alias("node"),
        F.size("ws").cast("long").alias("c"),
    )
    wside = annotated.select(
        F.explode("ws").alias("node"), F.lit(1).cast("long").alias("c")
    )
    return (
        uv.unionByName(wside)
        .groupBy("node")
        .agg(F.sum("c").alias("tri_count"))
    )


def triangle_oracle_sql(edges_cte: str) -> str:
    """DuckDB oracle for triangle_count_per_node: naive id-ordered
    enumeration (a<b<c finds each triangle once — orientation-invariant,
    so it must agree exactly with the degree-ordered plan). ``edges_cte``
    yields an undirected (src, dst) list."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
          FROM raw WHERE src <> dst),
    tri AS (
      SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
      FROM e ab JOIN e bc ON ab.dst = bc.src
                JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    per_node AS (
      SELECT node, COUNT(*) AS tri_count FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT node, tri_count FROM per_node
    """


def pagerank_personalized_fixed_point(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    checkpoint: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SEED set
    instead of spreading uniformly, so ranks measure proximity to the
    seeds ("related to this customer"), not global centrality. Same
    integer fixed-point contract as pagerank_fixed_point — the seed
    list is driver-side model state (an id list, like the IVF
    centroids), injected as a broadcast membership frame.

    pr_0(v)     = SCALE // |seeds| if v in seeds else 0
    pr_{k+1}(v) = tele(v) + Σ_{u→v} (pr_k(u) * 85) // (outdeg(u) * 100)
    tele(v)     = (15 * SCALE // 100) // |seeds| if v in seeds else 0
    """
    n_seeds = len(seeds)
    if n_seeds == 0:
        raise ValueError("pagerank_personalized_fixed_point: empty seeds list")
    e, nodes = _pagerank_graph(edges, src, dst, checkpoint, assume_distinct)
    seed_tele = (PR_SCALE - PR_D_NUM * PR_SCALE // PR_D_DEN) // n_seeds
    seed_frame = nodes.sparkSession.createDataFrame(
        [(s,) for s in seeds], "node long"
    )
    # One broadcast left join, not semi-then-left (the two-join form
    # walked nodes twice for the same tele column — code-review r15):
    # seed membership IS the tele value.
    nodes_t = nodes.join(
        F.broadcast(
            seed_frame.select(
                "node", F.lit(seed_tele).cast("long").alias("tele")
            )
        ),
        "node",
        "left",
    ).select("node", F.coalesce("tele", F.lit(0)).cast("long").alias("tele"))
    if checkpoint:
        nodes_t = nodes_t.localCheckpoint(eager=True)
    ranks = nodes_t.select(
        "node",
        F.when(F.col("tele") > 0, F.lit(PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pr"),
    )
    return _power_iterate(e, nodes_t, F.col("tele"), ranks, iterations, checkpoint)


def pagerank_personalized_oracle_sql(
    edges_cte: str, seeds: list[int], iterations: int = 5, scale: int = PR_SCALE
) -> str:
    """Unrolled-CTE oracle for the personalized variant."""
    seed_list = ", ".join(str(s) for s in seeds)
    tele = (scale - PR_D_NUM * scale // PR_D_DEN) // len(seeds)

    def per_seed(value: int, name: str) -> str:
        return (
            f"SELECT node, CASE WHEN node IN ({seed_list}) "
            f"THEN CAST({value} AS BIGINT) ELSE 0 END AS {name} FROM nodes"
        )

    return _pagerank_oracle_sql(
        edges_cte, per_seed(tele, "tele"), per_seed(scale // len(seeds), "pr"), iterations
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list: each
    round removes every node whose CURRENT degree is < k (with all its
    edges), simultaneously. Returns (node, deg) for the nodes surviving
    ``rounds`` rounds, with their degree in the surviving subgraph.

    FIXED-ROUND contract (the pagerank_oracle_sql discipline): the spec
    is "exactly ``rounds`` peel steps", NOT "to convergence" — peeling
    is monotone, so extra rounds past the fixpoint are no-ops, and a
    fixed count keeps Spark and the unrolled-CTE oracle well-defined
    and hash-equal on ANY fixture, including one whose cascade is
    deeper than expected (run-to-convergence specs silently disagree
    the day a regenerated fixture needs round N+1). Pair with
    ``assert_kcore_converged`` when the caller needs the fixpoint
    guarantee.

    Scale shape: each round is a degree aggregation (map-side combined)
    plus two broadcast-or-shuffle anti-joins removing the peeled nodes
    from the edge list; lineage truncates per round via localCheckpoint
    (the connected_components discipline). Work per round SHRINKS —
    peeling only ever removes rows.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_canonical:
        e = e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).filter(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        # Lazy checkpoint + count: ONE job both materializes the peel
        # set (so the two anti-joins below reuse the persisted rows
        # instead of re-aggregating degrees twice) and answers the
        # early-exit probe — versus the eager-checkpoint + isEmpty pair
        # this replaces (optimization r15, guide §2.4: iterative rounds
        # are job-latency-bound at bench scale).
        bad = (
            deg.filter(F.col("deg") < k).select("node").localCheckpoint(eager=False)
        )
        # Early exit preserves the fixed-round SEMANTICS exactly: once a
        # round removes nothing, every remaining round is a provable
        # no-op (peeling is monotone) — skipping them changes only cost.
        if bad.count() == 0:
            break
        e = (
            e.join(bad.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(bad.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def kcore_oracle_sql(edges_cte: str, k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB oracle for kcore_peel: one degree+filter pair
    per round, identical simultaneous-removal semantics."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous round several times — without
    # materialization the expansion is exponential in rounds (observed
    # as "Too many open files" from hundreds of thousands of re-opened
    # parquet scans at rounds=8).
    parts = [
        f"WITH raw AS MATERIALIZED ({edges_cte}),",
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS src,"
        " GREATEST(src, dst) AS dst FROM raw WHERE src <> dst),",
    ]
    for r in range(rounds):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM ("
            f"SELECT src AS node FROM e{r} UNION ALL SELECT dst FROM e{r}"
            f") GROUP BY node),"
        )
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT src, dst FROM e{r} "
            f"WHERE src NOT IN (SELECT node FROM d{r} WHERE deg < {k}) "
            f"AND dst NOT IN (SELECT node FROM d{r} WHERE deg < {k})),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        body
        + f"\nSELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM ("
        f"SELECT src AS node FROM e{rounds} UNION ALL SELECT dst FROM e{rounds}"
        f") GROUP BY node"
    )


def bfs_hops(
    edges: DataFrame,
    sources: list[int],
    hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first distances from a seed set, ``hops`` relaxation
    rounds: returns (node, dist) for every node reachable within
    ``hops`` edges (dist = minimum hop count, 0 for seeds).

    The "within N hops" spec makes the round count part of the QUERY
    semantics — no convergence ambiguity (the k-core lesson applied
    at the spec level). Distances are small exact integers.

    Scale shape: the frontier-join formulation — each round joins the
    CURRENT frontier (nodes first reached last round, the small side)
    against the edge list on src, then min-merges into the visited set.
    Joining the frontier rather than the full visited set keeps the
    per-round join input proportional to the expanding wave, not the
    accumulated result; lineage truncates per round.
    """
    spark = edges.sparkSession
    # All checkpoints in the wave loop are LAZY: each round runs exactly
    # ONE job — count(new) — which materializes this round's frontier
    # AND (as its anti-join side) the previous round's visited union, so
    # every persisted frame is computed once and the eager-checkpoint +
    # isEmpty + eager-union triple (3 jobs/round) collapses to one
    # (optimization r15, guide §2.4). The edge list is materialized by
    # round 1's count the same way.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=False)
    visited = spark.createDataFrame(
        [(s, 0) for s in sources], "node long, dist int"
    ).localCheckpoint(eager=True)
    frontier = visited
    for h in range(1, hops + 1):
        reached = (
            e.join(
                frontier.withColumnRenamed("node", "src").select("src"),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        # Empty wave => every later round is a no-op; exit early (same
        # semantics as running all hops, the k-core discipline).
        if new.count() == 0:
            break
        visited = visited.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    return visited


def bfs_oracle_sql(edges_cte: str, sources: list[int], hops: int) -> str:
    """Unrolled-CTE DuckDB oracle for bfs_hops (MATERIALIZED — chained
    CTE inlining is exponential otherwise, the k-core lesson)."""
    seed_rows = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS node, 0 AS dist" for s in sources
    )
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte})),",
        f"v0 AS MATERIALIZED ({seed_rows}),",
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"v{h} AS MATERIALIZED ("
            f"SELECT node, dist FROM v{h - 1} "
            f"UNION ALL "
            f"SELECT DISTINCT e.dst AS node, {h} AS dist "
            f"FROM e JOIN v{h - 1} f ON e.src = f.node AND f.dist = {h - 1} "
            f"WHERE e.dst NOT IN (SELECT node FROM v{h - 1})),"
        )
    body = "\n".join(parts).rstrip(",")
    return body + f"\nSELECT node, CAST(dist AS INT) AS dist FROM v{hops}"


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    checkpoint: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, "Near linear
    time algorithm to detect community structures in large-scale
    networks") with a DETERMINISTIC tie rule: every node starts labeled
    with its own id; each round it adopts the label most frequent among
    its neighbors, ties broken by smallest label. The classic LPA
    visits nodes in random order and breaks ties randomly — the
    synchronized min-tie form trades a little convergence speed for a
    result two engines can hash-compare (the same discipline as the
    integer PageRank fixed point).

    Returns (node, label) after ``rounds`` synchronous updates.

    Scale shape: per round exactly one join of the mirrored edge list
    (pre-partitioned on the join key, checkpointed once) against the
    (node, label) frame, one (node, label) count aggregate
    (partial-combined map-side), and one node-keyed max-by window;
    lineage truncates per round via localCheckpoint so round k's plan
    never re-derives rounds 1..k-1.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    if checkpoint:
        e = e.repartition("dst").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("label"))
    # argmax(count, then smallest label) via a row_number window — the
    # r15 max_by(struct(c, -label)) rewrite was REVERTED in r16: at the
    # tier scale the driver bench cannot see (120k cliques / 7.2M
    # mirrored edges, scripts/scale_graph_ab_r16.py in git history up
    # to e921ddb), the window shape
    # measured consistently faster across 3 interleaved rounds (old
    # 24.5/15.9/23.7 s vs max_by 25.1/25.1/33.0 s for 3 LPA rounds) —
    # the second hash aggregate's struct-comparison update loses to one
    # partition sort, and both shapes pay the same two exchanges.
    # Labels are bit-identical between the two (both A/B'd rounds and
    # the unchanged LPA oracle pin that).
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        votes = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        # A node with no out-edges receives no votes and keeps its
        # label (directed-graph sinks; on a mirrored list every node
        # votes, so this join is a no-op there). Without the outer
        # join, non-src nodes silently vanish after round 1 — review
        # catch, round 8.
        labels = (
            labels.join(votes, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
        )
        if checkpoint:
            labels = labels.localCheckpoint(eager=False)
    return labels


def lpa_oracle_sql(edges_cte: str, rounds: int = 3) -> str:
    """Unrolled-CTE oracle for :func:`label_propagation`: each round is
    one join + count + ROW_NUMBER argmax with the identical
    (count DESC, label ASC) tie rule."""
    parts = [
        # DISTINCT matches the operator's edge dedup: votes are per
        # neighbor, not per trade multiplicity
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_cte}) raw_edges)",
        "l0 AS (SELECT node, node AS label FROM ("
        "SELECT src AS node FROM e UNION SELECT dst FROM e))",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"c{r} AS (SELECT e.src AS node, l.label, COUNT(*) AS c "
            f"FROM e JOIN l{r - 1} l ON e.dst = l.node "
            f"GROUP BY e.src, l.label)"
        )
        parts.append(
            f"w{r} AS (SELECT node, label FROM ("
            f"SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label ASC) AS rn FROM c{r}) WHERE rn = 1)"
        )
        # sinks (no out-edges) receive no votes and keep their label
        parts.append(
            f"l{r} AS (SELECT p.node, COALESCE(w.label, p.label) AS label "
            f"FROM l{r - 1} p LEFT JOIN w{r} w ON p.node = w.node)"
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"\nSELECT node, label FROM l{rounds}"
    )
