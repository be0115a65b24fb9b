"""Text-analysis operator tests (langid, quality, token counts,
fingerprints) — all JVM-side column expressions."""
from __future__ import annotations

from pyspark.sql import functions as F

from cirro_annotation_spark.operators.text import (
    fingerprint_sha,
    langid_stopword_votes,
    quality_score,
    token_count,
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], "text string").select(
        col.alias("v")
    ).first()["v"]


def test_langid_english_vs_spanish(spark):
    en = "the cat sat on a mat and the dog barked to the moon"
    es = "el perro y la casa de la playa que el sol"
    de = "der hund und die katze das haus und zu der stadt"
    assert _one(spark, en, langid_stopword_votes(F.col("text"))) == "en"
    assert _one(spark, es, langid_stopword_votes(F.col("text"))) == "es"
    assert _one(spark, de, langid_stopword_votes(F.col("text"))) == "de"
    assert _one(spark, "xyzzy plugh 12345", langid_stopword_votes(F.col("text"))) == "und"


def test_token_counts(spark):
    assert _one(spark, "  a  b   c ", token_count(F.col("text"))) == 3
    assert _one(spark, "", token_count(F.col("text"))) == 0


def test_quality_score_bounds_and_ordering(spark):
    good = "The sturdy bridge spans the river valley connecting two historic towns built long ago."
    bad = "@@@@ ???? !!!! 00000 1111 ;;;;"
    q_good = _one(spark, good, quality_score(F.col("text")))
    q_bad = _one(spark, bad, quality_score(F.col("text")))
    assert 0.0 <= q_bad < q_good <= 1.0


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, "Hello   World", fingerprint_sha(F.col("text")))
    b = _one(spark, "  hello world ", fingerprint_sha(F.col("text")))
    c = _one(spark, "hello worlds", fingerprint_sha(F.col("text")))
    assert a == b != c


def test_dup_span_coverage_planted_exact_dup(spark):
    """Two identical 12-token docs are fully covered (1.0); a disjoint
    doc has coverage 0; a doc sharing one 8-gram window with another is
    covered on exactly those 8 positions."""
    from cirro_annotation_spark.suites.text import docs_dup_span_coverage
    import cirro_annotation_spark.suites.text as T
    from pyspark.sql import functions as F

    a = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"
    b = a  # exact dup
    c = "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11"  # disjoint
    d = "y0 y1 w0 w1 w2 w3 w4 w5 w6 w7 z0 z1"  # shares a's first 8-gram
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, d)], "doc_id long, text string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in docs_dup_span_coverage(spark, td).collect()
        }
    assert out[0]["dup_coverage"] == 1.0 and out[1]["dup_coverage"] == 1.0
    assert out[2]["covered_tokens"] == 0
    # doc 3: the shared window is tokens w0..w7 at positions 3..10 → 8 tokens
    assert out[3]["covered_tokens"] == 8
    assert abs(out[3]["dup_coverage"] - 8 / 12) < 1e-6  # 6dp-rounded column


def test_dup_span_removal_keeps_canonical_occurrence(spark):
    """The canonical (min doc_id) holder of a duplicated span keeps it;
    every other holder loses exactly the span tokens; untouched docs
    pass through byte-identical."""
    from cirro_annotation_spark.suites.text import docs_dup_span_removal
    import os, tempfile

    a = "w0 w1 w2 w3 w4 w5 w6 w7 t0 t1"  # canonical holder of w0..w7
    b = "x0 x1 w0 w1 w2 w3 w4 w5 w6 w7"  # loses the span, keeps x0 x1
    c = "y0 y1 y2 y3 y4 y5 y6 y7 y8 y9"  # untouched
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in docs_dup_span_removal(spark, td).collect()
        }
    assert out[0]["cleaned_text"] == a and out[0]["n_kept"] == 10
    assert out[1]["cleaned_text"] == "x0 x1" and out[1]["n_kept"] == 2
    assert out[2]["cleaned_text"] == c and out[2]["n_kept"] == 10


def test_unigram_perplexity_flags_outlier_doc(spark):
    """A doc of corpus-frequent tokens scores LOW ppl; a doc of
    singleton gibberish tokens scores HIGH ppl — the filter's job."""
    from cirro_annotation_spark.suites.text import docs_unigram_perplexity
    import os, tempfile

    common = "the cat sat on the mat " * 5
    rows = [(i, common) for i in range(9)] + [
        (9, "zqx9 vbn3 plm7 wkj2 hgf8 rty4")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r["unigram_ppl"]
            for r in docs_unigram_perplexity(spark, td).collect()
        }
    assert out[9] > 2 * out[0]


def test_weighted_sample_favors_heavy_docs(spark):
    """A-ES property: the weighted sample's mean weight must exceed the
    corpus mean (heavier rows are more likely in), and the draw must be
    deterministic across invocations."""
    import __spark_entry__ as se

    q = se.queries()["sample_weighted_k"]
    a = q(spark, "/root/testdata/sf0.01").collect()
    b = q(spark, "/root/testdata/sf0.01").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    sample_mean = sum(r["n_chars"] for r in a) / len(a)
    from cirro_annotation_spark.suites.util import t as read_t

    corpus = read_t(spark, "/root/testdata/sf0.01", "documents").agg(
        {"n_chars": "avg"}
    ).collect()[0][0]
    assert sample_mean > corpus


def test_flatten_length_dist_equalizes_bands(spark):
    """Every band's accepted count lands near the rarest band's size
    (binomial spread), flattening the length distribution."""
    import collections

    import __spark_entry__ as se

    rows = se.queries()["sample_flatten_length_dist"](
        spark, "/root/testdata/sf0.1"
    ).collect()
    per_band = collections.Counter(r["band"] for r in rows)
    assert len(per_band) >= 3
    lo, hi = min(per_band.values()), max(per_band.values())
    assert hi <= 2 * lo  # equalized within binomial noise


def test_bpe_greedy_leftmost_overlap(spark):
    """'aaaa' under merge (a,a): greedy leftmost yields 'aa','aa' —
    pair counting before the merge sees 3 overlapping pairs (the
    Sennrich counting rule), and round 2 merges ('aa','aa')."""
    from cirro_annotation_spark.operators.text import bpe_train

    df = spark.createDataFrame([("aaaa",)], "text string")
    rows = {
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(spark, df, merges=2).collect()
    }
    assert rows == {(1, "a", "a", 3), (2, "aa", "aa", 1)}


def test_bpe_tie_breaks_lexicographically(spark):
    """Equal counts: ('ab' vs 'ba' each once) — the pinned tie-break
    picks the lexicographically smallest (left, right) pair."""
    from cirro_annotation_spark.operators.text import bpe_train

    df = spark.createDataFrame([("ab ba",)], "text string")
    r1 = bpe_train(spark, df, merges=1).first()
    assert (r1["left_sym"], r1["right_sym"], r1["pair_count"]) == ("a", "b", 1)


def test_bpe_merged_symbol_compounds(spark):
    """Learned symbols must participate in later rounds: with corpus
    'er er er ver', round 1 merges (e,r) into 'er' and round 2 can
    then merge (v,er) — a multi-char right-hand side."""
    from cirro_annotation_spark.operators.text import bpe_train

    df = spark.createDataFrame([("er er er ver",)], "text string")
    rows = bpe_train(spark, df, merges=2).collect()
    assert (rows[0]["left_sym"], rows[0]["right_sym"]) == ("e", "r")
    assert (rows[1]["left_sym"], rows[1]["right_sym"]) == ("v", "er")
    assert rows[1]["pair_count"] == 1


def test_bpe_single_char_words_contribute_nothing(spark):
    """1-symbol words generate no pairs (the slice-not-sequence
    guard); a corpus of only single chars trains zero merges."""
    from cirro_annotation_spark.operators.text import bpe_train

    df = spark.createDataFrame([("a b c a b",)], "text string")
    assert bpe_train(spark, df, merges=3).count() == 0


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """The method's point: with target = the English slice, English
    documents must average a strictly higher importance log-weight
    than every non-English language's average (DSIR separates domains
    through 256 hashed buckets even at fixture scale)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    w = QUERIES["docs_dsir_weights"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    by_lang = {
        r["lang"]: r["avg_w"]
        for r in w.join(docs, "doc_id")
        .groupBy("lang")
        .agg(F.avg("dsir_logweight").alias("avg_w"))
        .collect()
    }
    assert all(
        by_lang["en"] > v for k, v in by_lang.items() if k != "en"
    ), by_lang


def test_bpe_fertility_on_crafted_corpus(spark):
    """1 merge on 'ab ab b': (a,b) merges, so 'ab' encodes to 1 symbol
    and 'b' to 1 — fertility exactly 1.0; with 0 effective merges the
    same corpus has fertility 5/3 (chars per word)."""
    import os
    import tempfile

    from cirro_annotation_spark.operators.text import bpe_fit
    from cirro_annotation_spark.operators.text import BPE_SEP

    df = spark.createDataFrame([(1, "ab ab b", "en")],
                               "doc_id long, text string, lang string")
    merges, vocab = bpe_fit(spark, df, merges=1)
    assert merges == [(1, "a", "b", 2)]
    enc = {
        r["symbols"].replace(BPE_SEP, ""): len(r["symbols"].split(BPE_SEP))
        for r in vocab.collect()
    }
    assert enc == {"ab": 1, "b": 1}


def test_bpe_merge_does_not_cross_symbol_boundaries(spark):
    """Round-7 review regression: with corpus 'abz ab ab ab bz bz',
    round 2's rule (b,z) must NOT fire inside word 'abz' whose symbols
    are [ab, z] after round 1 (the old string-REPLACE matched the
    suffix of symbol 'ab'); canonical BPE learns (ab,z) in round 3."""
    from cirro_annotation_spark.operators.text import bpe_train

    df = spark.createDataFrame([("abz ab ab ab bz bz",)], "text string")
    rows = [
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(spark, df, merges=3).collect()
    ]
    assert rows == [(1, "a", "b", 4), (2, "b", "z", 2), (3, "ab", "z", 1)]


def test_bpe_oracle_survives_merge_exhaustion(spark):
    """Round-7 review regression: when pair counts run dry before the
    configured rounds, the engine breaks its loop and the oracle's
    later rounds must carry the vocab forward unchanged (NULL scalar
    subqueries used to cascade the whole vocabulary to NULL, zeroing
    the encode oracle)."""
    import duckdb

    from cirro_annotation_spark.registry import ORACLES, load_all_suites

    load_all_suites()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, 'ab ab b' AS text,"
        " 'en' AS lang"
    )
    assert con.execute(ORACLES["text_bpe_encode_fertility"]).fetchall() == [
        ("en", 1, 3, 3, 1.0)
    ]


def _bpe_reference(corpus: list[str], merges: int):
    """Independent pure-Python canonical BPE (Sennrich): returns the
    merge table [(round, l, r, count)] — the third implementation
    beside the Spark fold and the recursive-CTE oracle."""
    from collections import Counter

    vocab = Counter()
    for text in corpus:
        for w in text.strip().lower().split():
            if w:
                vocab[tuple(w)] += 1
    out = []
    for t in range(1, merges + 1):
        pairs = Counter()
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq
        if not pairs:
            break
        (l, r), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((t, l, r, cnt))
        new_vocab = Counter()
        for syms, freq in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] += freq
        vocab = new_vocab
    return out


def test_bpe_matches_python_reference_on_random_corpora(spark):
    """Engine == independent canonical implementation on seeded random
    corpora with adjacent repeats, shared prefixes/suffixes (the
    boundary-crossing hazard class), multi-round compounding, and a
    whitespace-only doc."""
    import random

    from cirro_annotation_spark.operators.text import bpe_train

    rng = random.Random(13)
    for trial in range(4):
        corpus = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(10)
        ] + ["   "]
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        got = [
            (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_train(spark, df, merges=5).collect()
        ]
        assert got == _bpe_reference(corpus, 5), corpus


def test_corpus_funnel_every_stage_bites(spark, sf_dir):
    """Vacuous-parity guard (the kcore lesson): on the real fixture,
    stages 1 (quality), 3 (source cap), and 4 (stopwords) must each
    strictly shrink docs; stage 2 is duplicate-free-by-construction
    there, so a crafted corpus pins the dedup stage biting too."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = {
        r["stage"]: r["n_docs"]
        for r in QUERIES["pipeline_corpus_funnel"](spark, sf_dir).collect()
    }
    assert rows[0] > rows[1] >= rows[2] > rows[3] > rows[4] > 0

    body = "the of and to " + "lorem ipsum " * 20  # passes quality+stopwords
    crafted = (
        [(i, body, "s1") for i in range(3)]           # 3 exact copies
        + [(10 + i, body + f"tail{i} " + "the of and to " * 3, "s1")
           for i in range(20)]                        # unique, one source
    )
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            crafted, "doc_id long, text string, source string"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        c = {
            r["stage"]: r["n_docs"]
            for r in QUERIES["pipeline_corpus_funnel"](spark, tmp).collect()
        }
    # 23 raw -> 23 quality -> 21 after dedup (3 copies -> 1) -> 12 cap
    assert (c[0], c[1], c[2], c[3]) == (23, 23, 21, 12)


def test_corpus_materialize_round_trip_and_reconcile(spark, sf_dir):
    """The terminal capstone's two new rows: stage 5 (read back from the
    compacted files) must equal stage 4 exactly, and the reconciliation
    diff must be empty — the round-trip-preserves-the-corpus claim."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = {
        r["stage"]: (r["stage_name"], r["n_docs"], r["n_tokens"])
        for r in QUERIES["pipeline_corpus_materialize"](spark, sf_dir).collect()
    }
    assert rows[5] == ("materialized", rows[4][1], rows[4][2])
    assert rows[6] == ("write_reconcile", 0, 0)
    assert rows[4][1] > 0  # the funnel must actually deliver a corpus


def test_corpus_materialize_is_not_vacuous(spark, sf_dir):
    """The stale base really differs from the survivors (the merge has
    repairs to make and rewrites files for them), and a post-compaction
    tamper flips the reconciliation — zero-diff is EARNED, not the
    trivial diff of identical frames."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from cirro_annotation_spark.operators.merge import (
        merge_into_parquet,
        table_diff,
    )
    from cirro_annotation_spark.suites.text import _funnel_frames

    survivors = _funnel_frames(spark, sf_dir)[4].select(
        "doc_id", "source", "n_tok"
    )
    stale = (
        survivors.filter(F.col("doc_id") % 3 != 1)
        .withColumn(
            "n_tok",
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(-1).cast("long")
            ).otherwise(F.col("n_tok")),
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, "base")
        stale.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        ).write.parquet(base)
        # Unrepaired base vs survivors: the diff sees the stale rows
        pre = (
            table_diff(
                survivors, spark.read.parquet(base), "doc_id",
                ["source", "n_tok"],
            )
            .groupBy("status")
            .count()
            .collect()
        )
        pre_counts = {r["status"]: r["count"] for r in pre}
        assert pre_counts.get("changed", 0) > 0
        assert pre_counts.get("removed", 0) > 0  # missing third
        # The merge must touch files to repair them
        stats = merge_into_parquet(spark, base, survivors, key="doc_id")
        assert stats["files_rewritten"] > 0
        post = table_diff(
            survivors, spark.read.parquet(base), "doc_id",
            ["source", "n_tok"],
        ).count()
        assert post == 0
        # Tamper: drop one row from the repaired table -> diff flips
        tampered = spark.read.parquet(base).filter(
            F.col("doc_id") != survivors.agg(F.min("doc_id")).first()[0]
        )
        assert (
            table_diff(
                survivors, tampered, "doc_id", ["source", "n_tok"]
            ).count()
            == 1
        )


def test_unimax_waterfill_properties():
    """UniMax allocation invariants under randomized strata (hypothesis):
    exact budget conservation when the corpus can absorb it, per-stratum
    caps, and smallest-first fairness — the recurrence the scored query
    and its recursive-CTE oracle both walk."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cirro_annotation_spark.suites.text import unimax_waterfill

    @settings(max_examples=200, deadline=None)
    @given(
        toks=st.lists(st.integers(min_value=0, max_value=10**7),
                      min_size=1, max_size=40),
        frac=st.integers(min_value=0, max_value=200),
    )
    def check(toks, frac):
        strata = [((f"s{i}",), tok) for i, tok in enumerate(toks)]
        total = sum(toks)
        budget = total * frac // 100
        out = unimax_waterfill(strata, budget)
        allocs = {key: alloc for key, _, alloc in out}
        assert all(alloc <= tok for _, tok, alloc in out)
        got = sum(allocs.values())
        if budget <= total:
            # exact conservation: floor-division remainders cascade to
            # later (larger) strata, nothing is lost
            assert got == budget, (toks, frac, got)
        else:
            assert got == total
        # fairness: a capped stratum's allocation never exceeds the
        # allocation of any LARGER stratum (smallest-first monotone)
        ordered = sorted(out, key=lambda row: (row[1], row[0]))
        for i in range(len(ordered) - 1):
            _, tok_i, alloc_i = ordered[i]
            _, _, alloc_j = ordered[i + 1]
            assert alloc_i <= alloc_j or alloc_i == tok_i

    check()


def test_doremi_mw_loop_properties():
    """DoReMi multiplicative-weights invariants under randomized domain
    losses (hypothesis): weights stay positive and ~sum to SCALE (floor
    remainders only), order follows excess loss (a domain with strictly
    larger loss never ends with a smaller weight), the uniform-loss
    corpus stays uniform, and every intermediate dividend is positive
    (the assert inside the loop — DuckDB-`//` parity)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cirro_annotation_spark.suites.text import doremi_mw_loop

    SCALE = 1_000_000

    @settings(max_examples=200, deadline=None)
    @given(
        losses=st.lists(
            st.integers(min_value=0, max_value=10**7),
            min_size=2,
            max_size=30,
        ),
        rounds=st.integers(min_value=1, max_value=8),
    )
    def check(losses, rounds):
        base = {f"d{i:02d}": v for i, v in enumerate(losses)}
        w, acc = doremi_mw_loop(base, rounds=rounds)
        assert all(v > 0 for v in w.values())
        # renormalization floors then clamps at 1, so the sum sits
        # within |domains| of SCALE on either side
        assert SCALE - len(base) <= sum(w.values()) <= SCALE + len(base)
        for a in base:
            for b in base:
                if base[a] > base[b]:
                    assert w[a] >= w[b], (base, w)
                    assert acc[a] >= acc[b]
        if len(set(losses)) == 1:
            lo, hi = min(w.values()), max(w.values())
            assert hi - lo <= 1

    check()


def test_collocations_pmi_planted_phrase_ranks_first(spark, tmp_path):
    """A bigram whose two words appear ONLY together must out-PMI every
    organic pair, and the reported value must equal the closed-form
    ln(c_xy * N_uni^2 / (N_bi * c_x * c_y)) computed in Python over the
    same exact counts."""
    import math

    # Filler words are 4x commoner than the planted pair's words, so
    # every filler bigram's PMI sits strictly below the planted one
    # (PMI falls with unigram frequency at equal pair count).
    filler = "x y x y x y x y"
    docs = [(i, filler + " neural network", "en", "s", 1) for i in range(6)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "pmi")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = sorted(
        QUERIES["text_collocations_pmi"](spark, path).collect(),
        key=lambda r: r["pair_rank"],
    )
    assert out[0]["w1"] == "neural" and out[0]["w2"] == "network"
    assert out[0]["pair_rank"] == 1
    n_tok = 10 * 6          # 10 tokens per doc, 6 docs
    n_bi = 9 * 6
    want = round(math.log(6 * n_tok * n_tok / (n_bi * 6 * 6)), 6)
    assert abs(out[0]["pmi"] - want) < 1e-9
    # min-count floor: every reported pair occurs >= 5 times
    assert all(r["n_pair"] >= 5 for r in out)


def test_rake_phrase_extraction_boundaries(spark, tmp_path):
    """Island semantics pinned on crafted docs: leading/trailing
    stopwords, consecutive stopwords, an all-stopword doc (contributes
    nothing), and the exact integer word/phrase scores of a known
    corpus."""
    docs = [
        # phrases: [big data], [fast query engine]
        (1, "the big data of the fast query engine", "en", "s", 1),
        # phrases: [big data] again (repeat boosts its n_occur)
        (2, "big data and the a to", "en", "s", 1),
        (3, "the a of and to", "en", "s", 1),  # all stopwords
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "rake")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = {
        r["phrase"]: r
        for r in QUERIES["text_rake_keyphrases"](spark, path).collect()
    }
    assert set(out) == {"big data", "fast query engine"}
    # big: freq 2, deg 2+2=4 -> 2e9; data: same; fast/query/engine:
    # freq 1, deg 3 -> 3e9
    bd = out["big data"]
    assert bd["n_occur"] == 2 and bd["n_words"] == 2
    assert bd["score"] == 2 * 2_000_000_000
    fqe = out["fast query engine"]
    assert fqe["n_occur"] == 1 and fqe["n_words"] == 3
    assert fqe["score"] == 3 * 3_000_000_000
    assert fqe["phrase_rank"] == 1  # 9e9 > 4e9


def test_kn_bigram_exact_hand_computation(spark, tmp_path):
    """P_kn pinned against a by-hand computation on a 3-bigram corpus:
    discounting (max(c-D,0)), the continuation distribution (types not
    tokens — the KN signature), and the two-stage integer flooring."""
    docs = [(1, "a b a b a c", "en", "s", 1)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "kn")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = {
        (r["w1"], r["w2"]): r
        for r in QUERIES["text_kn_bigram_lm"](spark, path).collect()
    }
    # bigrams: ab ba ab ba ac -> c(a,b)=2 c(b,a)=2 c(a,c)=1
    # histories: c1(a)=3 n1+(a.)=2 ; c1(b)=2 n1+(b.)=1
    # continuations: n1+(.b)=1 n1+(.a)=1 n1+(.c)=1 ; T=3 bigram types
    def pkn(c12, c1, n1h, n1c, T=3):
        return (max(4 * c12 - 3, 0) * 10**9) // (4 * c1) + (
            3 * n1h * n1c * 10**9
        ) // (4 * c1 * T)

    assert out[("a", "b")]["p_kn_ppb"] == pkn(2, 3, 2, 1)
    assert out[("b", "a")]["p_kn_ppb"] == pkn(2, 2, 1, 1)
    assert out[("a", "c")]["p_kn_ppb"] == pkn(1, 3, 2, 1)
    # discounting must leave mass: smoothed P(c|a) < MLE 1/3
    assert out[("a", "c")]["p_kn_ppb"] < 10**9 // 3


def test_nb_langid_separable_corpus_perfect_confusion(spark, tmp_path):
    """On a linearly separable crafted corpus (disjoint letter support
    per language) the NB trainer must produce a DIAGONAL confusion
    matrix; smoothing must not flip any prediction."""
    rows = []
    for i in range(10):
        rows.append((i, "aaa bbb abab baba", "aa", "s", 1))
        rows.append((100 + i, "zzz yyy zyzy yzyz", "zz", "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "nb")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    got = {
        (r["true_lang"], r["predicted"]): r["n"]
        for r in QUERIES["text_langid_train_nb"](spark, path).collect()
    }
    assert got == {("aa", "aa"): 10, ("zz", "zz"): 10}


def test_kn_perplexity_smoothing_orders_docs(spark, tmp_path):
    """A doc made of the corpus's dominant bigram must score lower
    avg-NLL than a doc of rare bigrams; every per-doc sum must be
    non-negative and n_bigrams = tokens-1."""
    rows = [(i, "a b a b a b a b", "en", "s", 1) for i in range(8)] + [
        (100, "q r s t u v w x", "en", "s", 1)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "knp")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = {
        r["doc_id"]: r
        for r in QUERIES["docs_kn_perplexity"](spark, path).collect()
    }
    assert all(r["n_bigrams"] == 7 for r in out.values())
    assert all(r["nll_micro_sum"] >= 0 for r in out.values())
    assert out[0]["avg_nll_micro"] < out[100]["avg_nll_micro"]


def test_temperature_mixture_flattens_sqrt(spark, tmp_path):
    """T=2: a source 4x larger must get only ~2x the allocation
    (sqrt flattening), and sqrt_micro must be the exact floored IEEE
    sqrt. Accepted counts stay within binomial noise of target."""
    import math

    rows = [(i, "x y z", "en", "big", 5) for i in range(400)] + [
        (1000 + i, "x y z", "en", "small", 5) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "temp")
    df.coalesce(1).write.parquet(path + "/documents.parquet")

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    out = {
        r["source"]: r
        for r in QUERIES["sample_temperature_mixture"](spark, path).collect()
    }
    assert out["big"]["sqrt_micro"] == math.floor(math.sqrt(400) * 1e6)
    assert out["small"]["sqrt_micro"] == math.floor(math.sqrt(100) * 1e6)
    # allocation ratio is sqrt(400)/sqrt(100) = 2, not 4
    assert out["big"]["target_docs"] == 2 * out["small"]["target_docs"]
    for r in out.values():
        assert abs(r["n_accepted"] - r["target_docs"]) <= 0.35 * r["target_docs"]


def test_curriculum_order_interleaves_sources(spark, sf_dir):
    """curriculum_pos must be a permutation-friendly grid: unique
    positions, each source's ranks strictly increasing in n_chars, and
    the first |sources| positions covering every source exactly once
    (the round-robin guarantee)."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = QUERIES["pipeline_curriculum_order"](spark, sf_dir).collect()
    pos = [r["curriculum_pos"] for r in rows]
    assert len(set(pos)) == len(pos)
    srcs = {r["source"] for r in rows}
    first_wave = sorted(rows, key=lambda r: r["curriculum_pos"])[: len(srcs)]
    assert {r["source"] for r in first_wave} == srcs
    assert all(r["difficulty_rank"] == 1 for r in first_wave)

def test_canonicalize_url_edges(spark):
    """Canonicalizer unit pins: scheme/host case, www., default ports,
    utm stripping (including ALL occurrences), fragment, trailing
    slash, and non-utm params surviving."""
    from pyspark.sql import functions as F

    from cirro_annotation_spark.operators.text import (
        canonicalize_url,
        url_host,
    )

    cases = [
        ("HTTPS://WWW.Site.COM:443/a/b/?utm_source=x&utm_medium=y#top",
         "https://site.com/a/b", "site.com"),
        ("http://site.com:80/a?id=3&utm_campaign=z",
         "https://site.com/a?id=3", "site.com"),
        ("https://site.com/", "https://site.com", "site.com"),
        ("https://x.org/p?utm_a=1&keep=2&utm_b=3",
         "https://x.org/p?keep=2", "x.org"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = [
        (r.c, r.h)
        for r in df.select(
            canonicalize_url(F.col("url")).alias("c"),
            url_host(F.col("url")).alias("h"),
        ).collect()
    ]
    assert got == [(c, h) for _, c, h in cases]


def test_domain_quality_gate_threshold_is_exact_p30(spark):
    """The per-source threshold must be the SMALLEST score whose
    cumulative count crosses 30% (integer cross-multiply, no
    interpolation). Fixture: 10 docs in one source with strictly
    increasing alpha density — cum*100 >= 10*30 first holds at the 3rd
    distinct score, so exactly the bottom two docs are dropped; a
    second single-doc source keeps its only doc (cum*100 = 100 >= 30)."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = []
    # score_ppm for doc i = i letters out of 10 chars -> i*100000 ppm
    for i in range(10):
        rows.append((i, "srcA", "a" * i + "1" * (10 - i)))
    rows.append((100, "srcB", "zz11"))  # lone doc: always kept
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["doc_id"]: (r["score_ppm"], r["thr_ppm"], r["kept"])
            for r in QUERIES["docs_domain_quality_gate"](spark, tmp).collect()
        }
    # srcA: 10 docs, threshold = 3rd smallest score = 2*100000
    assert out[0] == (0, 200000, False)
    assert out[1] == (100000, 200000, False)
    for i in range(2, 10):
        assert out[i] == (i * 100000, 200000, True)
    assert out[100] == (500000, 500000, True)


def test_rouge_identical_and_disjoint_pairs(spark):
    """ROUGE-F1 sanity on planted docs: an identical pair scores
    exactly 1e6 ppm for both n=1 and n=2; a token-disjoint pair drops
    out entirely (no shared grams on either engine)."""
    import os
    import tempfile

    import cirro_annotation_spark.suites.text as TX
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    pairs = TX._ROUGE_PAIRS
    a, b = pairs[0]          # will be identical docs
    c, d = pairs[1]          # will be disjoint docs
    docs = {a: "alpha beta gamma alpha", b: "alpha beta gamma alpha",
            c: "one two three", d: "four five six"}
    # every other pinned id gets a filler doc so the isin() filter finds it
    for x, y in pairs[2:]:
        docs.setdefault(x, "filler doc text")
        docs.setdefault(y, "filler doc text")
    rows = [(i, txt, "en", "src", len(txt)) for i, txt in docs.items()]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            (r["id_a"], r["id_b"], r["n"]): r["f1_ppm"]
            for r in QUERIES["text_rouge_pairs"](spark, tmp).collect()
        }
    assert out[(a, b, 1)] == 1_000_000
    assert out[(a, b, 2)] == 1_000_000
    assert (c, d, 1) not in out and (c, d, 2) not in out


def test_kappa_perfect_and_chance_agreement(spark):
    """Cohen's kappa sanity: a corpus the heuristic labels perfectly
    scores kappa = 1.0 exactly (N*diag - prod == N^2 - prod)."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    rows = [
        (1, "the cat of the house and the dog to go", "en", "s", 10),
        (2, "der hund und die katze das haus zu gehen", "de", "s", 10),
        (3, "el perro y la casa de que el gato", "es", "s", 10),
        (4, "le chien et la maison de les chats", "fr", "s", 10),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        out = QUERIES["text_langid_kappa"](spark, tmp).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 4 and out[0]["n_agree"] == 4
    assert out[0]["kappa"] == 1.0


def test_zipf_slope_negative_on_powerlaw(spark):
    """A corpus with term frequencies 64,32,16,8,4,2,1 (freq = 2^-rank
    shape) must fit a clearly negative slope; n_terms counts the
    distinct vocabulary (7 < the 100 cap)."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    text = " ".join(
        " ".join([f"w{i}"] * (2 ** (6 - i))) for i in range(7)
    )
    rows = [(1, text, "en", "s", len(text))]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        out = QUERIES["text_zipf_slope"](spark, tmp).collect()
    assert len(out) == 1
    assert out[0]["n_terms"] == 7
    assert out[0]["slope"] < -1.0


def test_vocab_overlap_identical_disjoint_and_stopword_cap(spark):
    """Two sources with identical discriminative vocabularies score
    exactly 1e6 ppm; disjoint pairs surface at 0 in the full pair
    matrix; and the hostile corpus-wide stopword — a token present in
    EVERY source, the S(S-1)/2 fan-out case the df cap exists for —
    contributes to no intersection and no vocabulary size."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    # "the" appears in all 5 sources (df=5 > S/2) -> dropped by the
    # document-frequency cap; "alpha"/"beta" have df=2 (<= S/2=2.5)
    # -> kept and shared only by s1/s2.
    rows = [
        (1, "the alpha beta", "en", "s1", 14),
        (2, "the beta alpha alpha", "en", "s2", 20),
        (3, "the delta", "en", "s3", 9),
        (4, "the epsilon", "en", "s4", 11),
        (5, "the zeta", "en", "s5", 8),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        res = QUERIES["docs_source_vocab_overlap"](spark, tmp).collect()
    out = {(r["source_a"], r["source_b"]): r for r in res}
    assert len(out) == 10  # full 5-choose-2 matrix, disjoint pairs included
    assert out[("s1", "s2")]["jaccard_ppm"] == 1_000_000
    assert out[("s1", "s2")]["vocab_a"] == 2  # stopword not counted
    # s3/s4 share ONLY the stopword: present in the matrix, zero overlap.
    assert out[("s3", "s4")]["n_shared"] == 0
    assert out[("s3", "s4")]["jaccard_ppm"] == 0
    assert out[("s1", "s3")]["jaccard_ppm"] == 0
