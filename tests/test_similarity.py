"""Similarity-search property tests: exact kernel sanity, LSH/IVF recall
against the brute-force baseline."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cirro_annotation_spark.operators import similarity as S
from cirro_annotation_spark.suites.util import t


def _query_vec(spark, sf_dir):
    row = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


def test_cosine_self_similarity(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = S.topk_cosine_bruteforce(emb, "embedding", "vec_id", q, k=1).first()
    assert top["vec_id"] == 0
    assert abs(top["cosine_sim"] - 1.0) < 1e-6


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with k=8 cells / nprobe=3 must recover most of the exact top-10
    (the query's own cell is always probed, so the top hit is guaranteed)."""
    emb = t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    exact = {r["vec_id"] for r in
             S.topk_cosine_bruteforce(emb, "embedding", "vec_id", q, k=10).collect()}
    centroids = S.train_centroids_kmeans(emb, "embedding", "vec_id", k=8, iterations=2)
    assert len(centroids) == 8 and all(len(c) == len(q) for c in centroids)
    approx = {r["vec_id"] for r in
              S.ivf_topk_cosine(emb, "embedding", "vec_id", q, centroids,
                                k=10, nprobe=3).collect()}
    recall = len(exact & approx) / 10
    assert 0 in approx  # self-match lives in a probed cell by construction
    assert recall >= 0.5, f"IVF recall {recall} < 0.5"


SF001 = "/root/testdata/sf0.01"


@pytest.mark.parametrize("method", ["bruteforce", "lsh", "ivf"])
def test_literal_search_matches_query_frame_form(spark, method):
    """A literal-vector search is its ``_q`` form over a literal query
    frame: on the same query vector both forms return the same rows."""
    if not os.path.exists(os.path.join(SF001, "embeddings.parquet")):
        pytest.skip("sf0.01 fixture not present")
    from cirro_annotation_spark.suites._ivf_centroids import CENTROIDS

    emb = t(spark, SF001, "embeddings")
    q = _query_vec(spark, SF001)
    qf = S.query_vector_frame(emb, "embedding", "vec_id", 0)
    args = (emb, "embedding", "vec_id")
    literal, framed = {
        "bruteforce": lambda: (
            S.topk_cosine_bruteforce(*args, q),
            S.topk_cosine_bruteforce_q(*args, qf),
        ),
        "lsh": lambda: (
            S.topk_cosine_lsh_q(
                *args, S._literal_query_frame(spark, q), n_planes=6, dim=len(q)
            ),
            S.topk_cosine_lsh_q(*args, qf, n_planes=6, dim=len(q)),
        ),
        "ivf": lambda: (
            S.ivf_topk_cosine(*args, q, CENTROIDS, nprobe=3),
            S.ivf_topk_cosine_q(*args, qf, CENTROIDS, nprobe=3),
        ),
    }[method]()
    got = [(r["vec_id"], r["cosine_sim"]) for r in literal.collect()]
    assert got and got[0][0] == 0
    assert got == [(r["vec_id"], r["cosine_sim"]) for r in framed.collect()]


def test_literal_search_construction_launches_no_job(spark):
    """The literal query frame is an inline 1-row table: building any
    literal-vector search starts no Spark job."""
    rows = [(i, [float(i), 1.0, -0.5 * i]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q, cents = [1.0, 0.5, 0.0], [[0.0, 1.0, 0.0], [4.0, 1.0, -2.0]]
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    S.topk_cosine_bruteforce(df, "embedding", "vec_id", q)
    S.topk_cosine_lsh_q(
        df, "embedding", "vec_id", S._literal_query_frame(spark, q),
        n_planes=4, dim=len(q),
    )
    S.ivf_topk_cosine(df, "embedding", "vec_id", q, cents, nprobe=1)
    assert len(tracker.getJobIdsForGroup(None)) == before


def test_kmeans_fewer_vectors_than_k_is_a_value_error(spark):
    """k-means seeds from the first k vectors, so a corpus smaller than
    k cannot be fitted; the error names both counts."""
    rows = [(i, [float(i), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=r"k=4.*has 3"):
        S.train_centroids_kmeans(df, "embedding", "vec_id", k=4, iterations=1)


def test_kmeans_assignment_partitions_corpus(spark, sf_dir):
    """Every vector lands in exactly one of k cells; cells are non-trivial
    (no single cell swallows the corpus after Lloyd refinement)."""
    emb = t(spark, sf_dir, "embeddings")
    centroids = S.train_centroids_kmeans(emb, "embedding", "vec_id", k=8, iterations=2)
    v = F.col("embedding").cast("array<double>")
    cells = (
        emb.select(S._argmin_centroid(v, centroids).alias("cell"))
        .groupBy("cell")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in cells)
    assert total == emb.count()
    assert max(r["count"] for r in cells) < total  # >1 non-empty cell


def test_lsh_bucket_contains_query_neighbors(spark, sf_dir):
    """The LSH top-k always contains the query itself (same bucket by
    definition) and only returns vectors from the query's bucket."""
    emb = t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    qf = S._literal_query_frame(spark, q)
    top = S.topk_cosine_lsh_q(
        emb, "embedding", "vec_id", qf, k=10, n_planes=6, dim=len(q)
    ).collect()
    assert top and top[0]["vec_id"] == 0


def test_near_dup_lsh_finds_planted_pair(spark):
    """A planted near-identical pair MUST collide in the LSH buckets and
    survive the cosine verify — guards against the round-2 vacuous check
    (threshold no fixture pair could reach => 0 rows verified nothing)."""
    import random

    rng = random.Random(7)
    base = [rng.gauss(0.0, 1.0) for _ in range(64)]
    near = [x + rng.gauss(0.0, 0.001) for x in base]  # cosine ~0.9999+
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(2, 50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = S.near_dup_pairs_cosine(
        df, "embedding", "vec_id", threshold=0.95, n_planes=10
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1 for r in pairs)
    for r in pairs:
        assert r["cosine_sim"] >= 0.95


def test_ivf_cells_prune_as_partition_columns(spark, sf_dir, tmp_path):
    """SCALE.md's claim made executable: materialize the IVF cell id as a
    parquet partition column, and an nprobe-limited read prunes unprobed
    cells at the FILE level (PartitionFilters — their directories are
    never listed into the scan)."""
    from cirro_annotation_spark.plans import physical_plan

    emb = t(spark, sf_dir, "embeddings")
    cents = S.train_centroids_kmeans(emb, "embedding", "vec_id", k=4, iterations=1)
    assigned = emb.withColumn(
        "cell", S._argmin_centroid(F.col("embedding").cast("array<double>"), cents)
    )
    target = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(target)

    probed = spark.read.parquet(target).filter(F.col("cell").isin([0, 1]))
    plan = physical_plan(probed)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    want = assigned.filter(F.col("cell").isin([0, 1])).count()
    assert probed.count() == want and want > 0


def test_knn_join_self_match_ranks_first(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = S.knn_join(q, emb, "vec_id", "vec_id", "embedding", corpus_vec_col="embedding", k=5).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == {0, 1, 2}
    for qid, rows in by_query.items():
        assert len(rows) == 5
        best = min(rows, key=lambda r: r["rank"])
        assert best["neighbor_id"] == qid and best["cosine_sim"] == 1.0

def test_ivf_pinned_centroids_not_stale(spark):
    """Round-5 verdict item 2: if the sf0.01 embeddings fixture or the
    trainer drifts, the pinned CENTROIDS literals silently diverge and
    sim_topk_ivf goes red on the driver with no pytest early warning
    (the r4 ts-regeneration lesson, tests/test_testdata_canary.py).
    Retrain with the documented parameters and compare to the literals."""
    from cirro_annotation_spark.operators import similarity as S
    from cirro_annotation_spark.suites import _ivf_centroids
    from cirro_annotation_spark.suites.util import t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    fresh = S.train_centroids_kmeans(emb, "embedding", "vec_id", k=8, iterations=2)
    pinned = _ivf_centroids.CENTROIDS
    assert len(fresh) == len(pinned)
    for ci, (f, p) in enumerate(zip(fresh, pinned)):
        assert len(f) == len(p), f"centroid {ci} dim mismatch"
        for di, (fv, pv) in enumerate(zip(f, p)):
            assert abs(fv - pv) < 1e-9, (
                f"pinned centroid {ci}[{di}]={pv} != freshly trained {fv}; "
                f"regenerate suites/_ivf_centroids.py (docstring has the "
                f"recipe)"
            )


def semantic_dedup_removed(df, vec_col, id_col, centroids, threshold):
    """The SQL reference SemDeDup that the Arrow operator
    (``S.semantic_dedup_removed_capped``) is tested against: assign each
    vector its nearest centroid's cell, then remove every vector whose
    cosine to a LOWER-id member of the SAME cell meets the threshold.
    Returns ``(vec_id, cell, n_dominators, keeper_id, max_cosine)``."""
    v = F.col(vec_col).cast("array<double>")
    pairs = S._cosine_pairs_within(
        df, v, id_col, S._argmin_centroid(v, centroids), threshold
    ).select(
        "id_a",
        F.col("id_b").alias("vec_id"),
        F.col("key").alias("cell"),
        F.col("cosine_sim").alias("__cs"),
    )
    return pairs.groupBy("vec_id", "cell").agg(
        F.count("*").alias("n_dominators"),
        F.min("id_a").alias("keeper_id"),
        F.round(F.max("__cs"), 6).alias("max_cosine"),
    )


def test_semantic_dedup_planted_pair_same_cell(spark):
    """A planted near-identical pair lands in the same quantizer cell
    (nearest centroid is distance-continuous) and the higher id is
    removed with the lower id as keeper; a vector with no in-cell
    near-neighbor is never emitted."""
    import random

    rng = random.Random(11)
    base = [rng.gauss(0.0, 1.0) for _ in range(8)]
    near = [x + rng.gauss(0.0, 0.001) for x in base]
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[rng.gauss(0.0, 1.0) for _ in range(8)] for _ in range(4)]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_removed(
            df, "embedding", "vec_id", cents, threshold=0.95
        ).collect()
    }
    assert 1 in out and out[1]["keeper_id"] == 0
    assert out[1]["max_cosine"] >= 0.99
    assert 0 not in out  # keeper survives


def test_semantic_dedup_respects_cell_boundary(spark):
    """Two identical vectors assigned to DIFFERENT cells are not compared
    — the SemDeDup recall trade-off is a documented property, and this
    pins that the pair stage really is cell-local (no all-pairs leak)."""
    # centroids at +e0 and -e0; v and its duplicate sit exactly on +e0
    # and -e0 so they assign to different cells.
    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    # cosine(v0, v1) = -1 < any threshold anyway; use opposite-cell
    # EQUAL vectors instead: both exactly on the boundary is ambiguous,
    # so assert on clearly-separated cells with a high-cosine pair.
    rows = [(0, [1.0, 0.05]), (1, [1.0, -0.05])]  # cosine ~0.995
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.5], [1.0, -0.5]]
    out = semantic_dedup_removed(
        df, "embedding", "vec_id", cents, threshold=0.9
    ).collect()
    assert out == []  # same-cell pairs only; cross-cell near-dup ignored


def _canon_removed(rows):
    return sorted(
        (
            r["vec_id"],
            r["cell"],
            r["n_dominators"],
            r["keeper_id"],
            r["max_cosine"],
        )
        for r in rows
    )


def test_semantic_dedup_capped_exact_when_under_cap(spark, sf_dir):
    """With no cell at the cap, the occupancy-capped operator must equal
    the SQL reference bit-for-bit — the degrades-gracefully half of the
    VERDICT-r7 hot-cell fix (every member lands in chunk 0, the cross
    stage is empty, within-chunk pairing IS exact pairing). Both round
    per-pair cosines to 6dp before threshold/agg; block=3 runs the
    blocked matmul with a block smaller than the cell population."""
    from cirro_annotation_spark.suites._ivf_centroids import CENTROIDS

    emb = t(spark, sf_dir, "embeddings")
    ref = _canon_removed(
        semantic_dedup_removed(
            emb, "embedding", "vec_id", CENTROIDS, 0.43
        ).collect()
    )
    assert ref  # fixture must actually exercise the pair stage
    for blk in (1024, 3):
        got = _canon_removed(
            S.semantic_dedup_removed_capped(
                emb, "embedding", "vec_id", CENTROIDS, 0.43, cap=1024,
                block=blk,
            ).collect()
        )
        assert got == ref, f"block={blk}"


def test_semantic_dedup_capped_matches_capped_oracle(spark, sf_dir):
    """Small caps force multi-chunk cells (both the within-chunk and the
    chunk-0 cross stage execute); the result must match an independent
    DuckDB statement of the id-rank-chunking semantics — the bounding
    rule itself is hash-verified, not just its no-op fixture case. Also
    pins the blocked-matmul path (block smaller than the chunk)."""
    import duckdb

    from cirro_annotation_spark.suites._ivf_centroids import CENTROIDS
    from cirro_annotation_spark.suites.similarity import _semdedup_oracle

    emb = t(spark, sf_dir, "embeddings")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    for cap, blk in ((7, 1024), (16, 5), (3, 1024)):
        got = _canon_removed(
            S.semantic_dedup_removed_capped(
                emb, "embedding", "vec_id", CENTROIDS, 0.43, cap=cap,
                block=blk,
            ).collect()
        )
        want = sorted(
            tuple(r) for r in con.sql(_semdedup_oracle(0.43, cap=cap)).fetchall()
        )
        assert got == want, f"cap={cap} block={blk}"


def test_pq_pinned_codebooks_not_stale(spark):
    """Pinned PQ codebooks must equal a fresh per-subspace retrain on the
    CURRENT sf0.01 fixture (the IVF-canary lesson: fixture or trainer
    drift must fail a test before it fails the driver gate)."""
    from pyspark.sql import functions as F
    from cirro_annotation_spark.suites._pq_codebooks import CODEBOOKS

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    for s in (0, 7):  # first + last subspace bound the slice arithmetic
        sub = emb.select(
            "vec_id",
            F.slice(
                F.col("embedding").cast("array<double>"), s * 8 + 1, 8
            ).alias("sub"),
        )
        fresh = S.train_centroids_kmeans(sub, "sub", "vec_id", k=16, iterations=2)
        assert fresh == CODEBOOKS[s], f"subspace {s} drifted — REGENERATE"


def test_pq_adc_query_first_and_overlaps_bruteforce(spark, sf_dir):
    """The query itself must rank first (its ADC distance is pure
    quantization error) and the PQ top-10 must overlap the exact
    top-10 — 64-bit codes on random 64-dim data are coarse, so the
    bound is deliberately loose; the ORDER itself is hash-checked by
    the driver oracle."""
    from cirro_annotation_spark.suites._pq_codebooks import CODEBOOKS

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    qf = S.query_vector_frame(emb, "embedding", "vec_id", 0)
    pq = [
        r["vec_id"]
        for r in S.pq_topk_adc(
            emb, "embedding", "vec_id", qf, CODEBOOKS, k=10
        ).collect()
    ]
    bf = [
        r["vec_id"]
        for r in S.topk_cosine_bruteforce_q(
            emb, "embedding", "vec_id", qf, k=10
        ).collect()
    ]
    assert pq[0] == 0
    assert len(set(pq) & set(bf)) >= 2


def test_multiprobe_recall_not_worse_than_single(spark):
    """Multi-probe candidates are a SUPERSET of the single bucket, so
    recall vs brute force can only improve; verify on the fixture."""
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("fixture absent")
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    truth = [r.vec_id for r in QUERIES["sim_topk_cosine"](spark, sf).collect()]
    single = {r.vec_id for r in QUERIES["sim_topk_lsh"](spark, sf).collect()}
    multi = {r.vec_id for r in QUERIES["sim_topk_lsh_multiprobe"](spark, sf).collect()}
    r_single = len(single & set(truth)) / len(truth)
    r_multi = len(multi & set(truth)) / len(truth)
    assert r_multi >= r_single
    assert single <= multi or r_multi >= r_single  # superset in candidates


def test_mmr_matches_reference_and_diversifies(spark):
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("fixture absent")
    import numpy as np

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = QUERIES["rag_mmr_rerank"](spark, sf).collect()
    assert len(out) == 5
    assert [r.mmr_rank for r in out] == [1, 2, 3, 4, 5]

    # reference: recompute exact-integer-lattice MMR in pure Python
    # (arbitrary-precision ints — no float anywhere past quantization)
    import duckdb
    import math

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    qvs = [
        [int(math.floor(float(x) * 10000.0)) for x in r[1]] for r in rows
    ]
    qq = qvs[ids.index(0)]
    rel_all = [sum(a * b for a, b in zip(v, qq)) for v in qvs]
    order = sorted(range(len(ids)), key=lambda i: (-rel_all[i], ids[i]))[:20]
    pool_ids = [ids[i] for i in order]
    pool_rel = [rel_all[i] for i in order]
    pool_v = [qvs[i] for i in order]
    sims = [
        [sum(a * b for a, b in zip(pool_v[i], pool_v[j])) for j in range(20)]
        for i in range(20)
    ]
    sel = []
    rem = list(range(20))
    while rem and len(sel) < 5:
        best, bs = None, None
        for i in rem:
            red = max((sims[i][j] for j in sel), default=0)
            sc = 7 * pool_rel[i] - 3 * red
            if bs is None or sc > bs or (sc == bs and pool_ids[i] < pool_ids[best]):
                best, bs = i, sc
        sel.append(best)
        rem.remove(best)
    want = [int(pool_ids[i]) for i in sel]
    assert [r.vec_id for r in out] == want
    assert [r.rel_q for r in out] == [pool_rel[i] for i in sel]

    # diversity: the MMR set's mean pairwise inner product (on the
    # lattice, the score the greedy optimizes) must not exceed the
    # plain top-5's
    top5 = [pool_v[i] for i in range(5)]
    def mean_pair(vs):
        n = len(vs)
        tot = sum(
            sum(a * b for a, b in zip(vs[i], vs[j]))
            for i in range(n)
            for j in range(n)
            if i != j
        )
        return tot / (n * (n - 1))
    mmr_v = [qvs[ids.index(v)] for v in want]
    assert mean_pair(mmr_v) <= mean_pair(top5)


def test_hard_negatives_cross_label_only(spark, sf_dir):
    """Every mined negative carries a label different from its
    anchor's, exactly 5 per anchor, ranks 1..5."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = QUERIES["sim_hard_negatives"](spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    per_anchor = {}
    for r in out:
        assert labels[r["vec_id"]] != labels[r["anchor_id"]]
        per_anchor.setdefault(r["anchor_id"], []).append(r["neg_rank"])
    assert set(per_anchor) == {0, 1, 2}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_anchor.values())


def test_rrf_fuses_both_arms(spark, sf_dir):
    """The query vector's own document (vec 0, dense rank 1) must
    appear in the fused top-10; scores must be non-increasing and the
    max possible is 2/61 (rank 1 in BOTH arms)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = QUERIES["rag_hybrid_rrf"](spark, sf_dir).collect()
    ids = [r["doc_id"] for r in rows]
    scores = [r["rrf_score"] for r in rows]
    assert 0 in ids
    assert scores == sorted(scores, reverse=True)
    assert all(s <= round(2 / 61, 6) + 1e-9 for s in scores)


def test_rq_pinned_codebooks_not_stale(spark):
    """Pinned RQ codebooks must equal a fresh two-stage retrain on the
    CURRENT sf0.01 fixture (the IVF-canary lesson: fixture or trainer
    drift must fail a test before it fails the driver gate). Exact
    integer equality — the pinned values are lattice BIGINTs."""
    from cirro_annotation_spark.operators import clustering as C
    from cirro_annotation_spark.suites._rq_codebooks import CENT1, CENT2

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    cent1, q = C.kmeans_fit(emb, "embedding", "vec_id", k=8, iters=2, dim=64)
    assert {k: [int(x) for x in v] for k, v in cent1.items()} == CENT1
    # the PRODUCTION residual derivation (rq_residual_frame), not a
    # copy — a copied derivation would keep this canary green while
    # rq_train drifted (review finding r8)
    resid = C.rq_residual_frame(q, cent1)
    cent2 = C.fit_lattice(resid, 8, 2, 64)
    assert {k: [int(x) for x in v] for k, v in cent2.items()} == CENT2


def test_binary_topk_query_self_match_and_recall(spark, sf_dir):
    """The query vector must rank itself first (Hamming 0, cosine 1);
    the Hamming shortlist must deliver decent recall vs the exact
    brute-force top-10 (sign bits preserve angular neighborhoods —
    assert >= 5/10 overlap, far above the ~0.2% random base rate of
    50 candidates from 500 vectors)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = sorted(
        QUERIES["sim_topk_binary"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["sim_rank"],
    )
    assert out[0]["vec_id"] == 0
    assert out[0]["hamming"] == 0 and abs(out[0]["cosine_sim"] - 1.0) < 1e-9
    exact = {
        r["vec_id"]
        for r in QUERIES["sim_topk_cosine"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    got = {r["vec_id"] for r in out}
    assert len(got & exact) >= 5


def test_silhouette_perfect_at_centroids(spark):
    """Vectors placed exactly AT the pinned centroids: a = 0, so
    s_ppm = (b*1e6) div b = exactly 1e6 for every cell (integer
    division is exact here), one vector per cell."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites
    from cirro_annotation_spark.suites._ivf_centroids import CENTROIDS

    load_all_suites()
    rows = [(i, [float(x) for x in c], 0) for i, c in enumerate(CENTROIDS)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).toPandas().to_parquet(os.path.join(tmp, "embeddings.parquet"))
        out = QUERIES["sim_silhouette_ivf"](spark, tmp).collect()
    assert len(out) == 8
    for r in out:
        assert r["n_vecs"] == 1
        assert r["mean_s_ppm"] == 1_000_000
        assert r["min_s_ppm"] == r["max_s_ppm"] == 1_000_000


def test_zero_norm_vector_excluded_everywhere(spark):
    """A zero-norm embedding has no defined cosine: it must never rank
    in a top-k, never pass a near-dup threshold, and the Spark path must
    agree with the numpy twin (where NaN >= t is False). Before the r15
    _nz guard, 0/0 = NaN ranked FIRST under desc and passed >= filters."""
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = S.topk_cosine_bruteforce(df, "embedding", "vec_id", [1.0, 0.0], k=4)
    got = [r["vec_id"] for r in top.collect()]
    # zero vector sorts LAST (NULL), never first
    assert got[0] == 0 and got[-1] == 2
    assert top.filter(F.col("vec_id") == 2).first()["cosine_sim"] is None

    # all-pairs near-dup: zero vector matches nothing even at threshold 0
    pairs = S.near_dup_pairs_cosine(
        df, "embedding", "vec_id", threshold=0.0, n_planes=1, dim=2
    )
    ids = {x for r in pairs.collect() for x in (r["id_a"], r["id_b"])}
    assert 2 not in ids

    # SemDeDup: zero vector neither removed nor a keeper
    removed = semantic_dedup_removed(
        df, "embedding", "vec_id", centroids=[[1.0, 0.0]], threshold=0.0
    )
    touched = {x for r in removed.collect() for x in (r["vec_id"], r["keeper_id"])}
    assert 2 not in touched


def test_zero_norm_cosine_is_null_not_nan(spark):
    df = spark.createDataFrame([(1,)], "x long")
    zero, v = F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(2.0))
    row = df.select(
        S._cosine(S.dot(zero, v), S.l2_norm(zero) * S.l2_norm(v)).alias("c"),
    ).first()
    assert row["c"] is None


def test_nan_vector_excluded_like_zero_vector(spark):
    """A NaN-poisoned embedding must behave exactly like a zero-norm
    one: NULL cosine, never ranked, never matched (nanvl guard —
    code-review r15 second pass)."""
    rows = [(0, [1.0, 0.0]), (1, [float("nan"), 1.0]), (2, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = S.topk_cosine_bruteforce(df, "embedding", "vec_id", [1.0, 0.0], k=3)
    got = [r["vec_id"] for r in top.collect()]
    assert got[0] == 0 and got[-1] == 1
    assert top.filter(F.col("vec_id") == 1).first()["cosine_sim"] is None
    pairs = S.near_dup_pairs_cosine(
        df, "embedding", "vec_id", threshold=0.0, n_planes=1, dim=2
    )
    assert 1 not in {x for r in pairs.collect() for x in (r["id_a"], r["id_b"])}
