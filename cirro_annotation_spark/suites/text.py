"""Text-analysis queries over documents (north-star: token counting,
quality scoring, language ID, fingerprinting — SURVEY.md §2.12).

The oracle side re-expresses each heuristic in DuckDB SQL so the exact
arithmetic is verified, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cirro_annotation_spark.operators import suffixarray as SA
from cirro_annotation_spark.operators import text as X
from cirro_annotation_spark.registry import query
from cirro_annotation_spark.suites.util import RATIO, t

# ---------------------------------------------------------------------------
# Shared per-document feature frame (VERDICT r8 item 2).
#
# The quality family (token stats, stopword ratio, quality score, the
# pinned-weight classifier, the perceptron trainer) previously re-ran
# the multi-regex tokenizer over the full corpus once PER QUERY — the
# suite's largest constant at the 100×-docs tier (46.2 s + 34.9 s,
# SCALE.md). Every one of those scores is arithmetic over the SAME
# eight integer per-doc features, so we tokenize once, persist the
# (doc_id, 8 ints) frame, and derive each query as a cheap projection.
# The integers are exactly the values the old per-query expressions
# produced (sum-of-token-lengths == count of non-\s chars, one regex
# pass instead of a per-token HOF fold), so every downstream double is
# bit-identical and the driver hashes are unchanged.
#
# Scale shape: ONE codegen scan over text; the persisted frame is
# ~9 ints/doc (a few MB per million docs — it fits executor storage at
# any corpus size and is partition-aligned with the scan, no shuffle).
# Keyed per (application, sf_dir) so the driver's sweep, bench, and the
# tier scripts all pay tokenization once per corpus, not once per query.
# ---------------------------------------------------------------------------
_DOC_FEATURES_CACHE: dict[tuple[str, str], DataFrame] = {}
# A tier sweep touches a handful of corpora; anything past this is a
# long-lived session leaking executor storage (ADVICE r9) — evict the
# oldest entry and unpersist its blocks before inserting a new one.
_DOC_FEATURES_CACHE_MAX = 8


def _doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-tokenization-pass integer features for the documents table.

    Columns (all int, null iff text is NULL): n_chars, n_tok,
    tok_chars (sum of whitespace-token lengths == non-whitespace char
    count), n_punct, n_digit, n_sw (EN-stopword hits), n_bpe
    (BPE-ish pre-tokenization count).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _DOC_FEATURES_CACHE.get(key)
    if got is not None:
        return got
    d = t(spark, sf_dir, "documents")
    # Every count below is a pure regex pass (regexp_count /
    # regexp_replace) — NO token-array materialization anywhere in the
    # hot scan. Integer equivalences to the array forms (pinned by the
    # unchanged driver hashes and tests/test_text.py):
    #   n_tok     = size(split(trim, \s+) minus empties) = #(\S+ runs)
    #   tok_chars = sum(token lengths)                   = #(\S chars)
    #   n_sw      = tokens equal to a stopword           = whole-token
    #               regex hits (lookarounds forbid adjacent \S)
    #   n_bpe     = alnum runs + non-alnum-non-WHITESPACE chars
    import re as _re

    # (?i) == the old per-token lower() compare for ASCII stopwords,
    # without materializing a lowered copy of every text.
    sw_pat = (
        r"(?i)(?<!\S)("
        + "|".join(_re.escape(w) for w in X.STOPWORDS["en"])
        + r")(?!\S)"
    )
    # Java \s is exactly these six ASCII chars, so translate (a char
    # map, no regex engine) counts the same integers ~1.4x faster
    # (A/B at the 100x tier: 14.8 -> 10.4 s warm).
    ws = " \t\n\x0b\f\r"
    alnum = "".join(
        chr(c)
        for c in (*range(48, 58), *range(65, 91), *range(97, 123))
    )
    feats = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_tok"),
        F.length(F.translate(F.col("text"), ws, "")).alias("tok_chars"),
        # [^\w\s] is a complement class — stays regex (translate can't)
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        ).alias("n_punct"),
        (
            F.length("text")
            - F.length(F.translate(F.col("text"), "0123456789", ""))
        ).alias("n_digit"),
        F.regexp_count(F.col("text"), F.lit(sw_pat)).alias("n_sw"),
        (
            F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+"))
            + F.length(F.translate(F.col("text"), alnum + ws, ""))
        ).alias("n_bpe"),
    ).persist()
    while len(_DOC_FEATURES_CACHE) >= _DOC_FEATURES_CACHE_MAX:
        oldest = next(iter(_DOC_FEATURES_CACHE))
        _DOC_FEATURES_CACHE.pop(oldest).unpersist()
    _DOC_FEATURES_CACHE[key] = feats
    return feats


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_calc,
           LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS n_tokens,
           ROUND(LENGTH(REPLACE(TRIM(text), ' ', '')) * 1.0 /
                 NULLIF(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')), 0),
                 {RATIO}) AS mean_word_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _doc_features(spark, sf_dir)
    return f.select(
        "doc_id",
        F.col("n_chars").alias("n_chars_calc"),
        F.col("n_tok").alias("n_tokens"),
        F.round(
            F.col("tok_chars") / F.nullif(F.col("n_tok"), F.lit(0)), RATIO
        ).alias("mean_word_len"),
    )


@query(
    "text_term_frequency",
    oracle="""
    SELECT token, COUNT(*) AS tf
    FROM (SELECT UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY tf DESC, token ASC
    LIMIT 20
    """,
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-wide term frequency: explode + count. Map-side partial
    # aggregation makes the shuffle carry only (token, partial_count).
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "text_stopword_ratio",
    oracle=f"""
    SELECT doc_id,
           ROUND(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                 x -> list_contains(['the','a','of','and','to'], LOWER(x)))) * 1.0 /
                 NULLIF(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')), 0),
                 {RATIO}) AS stopword_ratio
    FROM documents
    """,
)
def text_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _doc_features(spark, sf_dir)
    ratio = F.when(
        F.col("n_tok") > 0, F.col("n_sw") / F.col("n_tok")
    ).otherwise(F.lit(0.0))
    return f.select("doc_id", F.round(ratio, RATIO).alias("stopword_ratio"))


@query(
    "text_quality_score",
    # The full composite heuristic re-derived in DuckDB SQL: length gate,
    # punct/digit noise, mean-word-length sanity — exact arithmetic parity.
    # The bpe-ish count is re-expressed without lookarounds (RE2): maximal
    # alnum runs + each non-alnum non-space char is its own token.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS n_tok,
             list_sum(list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                                     x -> LENGTH(x))) AS tok_chars,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    ), parts AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok >= 10 THEN 1.0 ELSE n_tok / 10.0 END AS len_ok,
             1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0) AS punct_ok,
             1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0) AS digit_ok,
             CASE WHEN n_tok > 0 THEN COALESCE(tok_chars, 0) * 1.0 / n_tok ELSE 0.0 END AS mwl
      FROM base
    )
    SELECT p.doc_id,
           ROUND((len_ok + punct_ok + digit_ok +
                  CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END) / 4.0,
                 {RATIO}) AS quality,
           p.n_tok AS n_tokens,
           LEN(list_filter(string_split_regex(b.text, '[^A-Za-z0-9]+'), x -> x <> ''))
             + LENGTH(REGEXP_REPLACE(b.text, '[A-Za-z0-9\s]', '', 'g')) AS n_bpe_tokens
    FROM parts p JOIN base b USING (doc_id)
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same composite as X.quality_score, evaluated over the shared
    # integer feature frame (one tokenization pass for the whole
    # family) — identical arithmetic order, so hashes are unchanged.
    f = _doc_features(spark, sf_dir)
    n_tok, n_chars = F.col("n_tok"), F.col("n_chars")
    len_ok = F.when(n_tok >= 10, F.lit(1.0)).otherwise(n_tok / F.lit(10.0))
    pr = F.when(n_chars > 0, F.col("n_punct") / n_chars).otherwise(F.lit(0.0))
    dr = F.when(n_chars > 0, F.col("n_digit") / n_chars).otherwise(F.lit(0.0))
    punct_ok = 1.0 - F.least(pr * 5.0, F.lit(1.0))
    digit_ok = 1.0 - F.least(dr * 5.0, F.lit(1.0))
    mwl = F.when(n_tok > 0, F.col("tok_chars") / n_tok).otherwise(F.lit(0.0))
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    quality = (len_ok + punct_ok + digit_ok + mwl_ok) / 4.0
    return f.select(
        "doc_id",
        F.round(quality, RATIO).alias("quality"),
        n_tok.alias("n_tokens"),
        F.col("n_bpe").alias("n_bpe_tokens"),
    )


@query(
    "text_langid",
    # Vote fold re-derived: winner = earliest language (code order) that
    # attains the maximum stopword-hit count; 'und' when all are zero —
    # exactly the strictly-greater fold in langid_stopword_votes.
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                            x -> LOWER(x)) AS toks
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             LEN(list_filter(toks, x -> list_contains(['der','die','das','und','zu'], x))) AS h_de,
             LEN(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS h_en,
             LEN(list_filter(toks, x -> list_contains(['el','la','de','y','que'], x))) AS h_es,
             LEN(list_filter(toks, x -> list_contains(['le','la','de','et','les'], x))) AS h_fr
      FROM tok
    )
    SELECT doc_id, lang,
           CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        X.langid_stopword_votes("text").alias("lang_pred"),
    )


@query(
    "text_tfidf_top",
    # TF-IDF with smoothed IDF: ln((N+1)/(df+1)) + 1. The doc-frequency
    # side is a tiny (token, df) aggregate joined back broadcast-style;
    # deterministic top-20 by weight.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token,
           ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), {RATIO}) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id ASC, token ASC
    LIMIT 20
    """,
)
def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: per-doc term counts x smoothed inverse document frequency.
    Two keyed aggregations over the exploded tokens; the (token, df)
    side is corpus-vocabulary-sized — broadcast it so the big tf side
    never reshuffles on token."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    # N folds into the plan as a broadcast 1-row aggregate cross-joined
    # onto the (token, df) side — one DAG, no separate driver count job
    # (the old d.count() ran an extra column-pruned scan per invocation).
    n_docs = d.agg(F.count(F.lit(1)).alias("__n_docs"))
    df_n = df_.crossJoin(F.broadcast(n_docs))
    tfidf = F.col("tf") * (
        F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    return (
        tf.join(F.broadcast(df_n), "token")
        .select("doc_id", "token", F.round(tfidf, RATIO).alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), F.col("doc_id").asc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "pipeline_training_data",
    # The composed LLM-training-data pipeline, end to end: quality gate →
    # language gate → exact dedup (first-wins on the normalized-text
    # fingerprint) → per-doc token accounting. The whole chain re-derived
    # in DuckDB: one oracle checks four operators composed.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS n_tok,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit,
             list_sum(list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                                     x -> LENGTH(x))) AS tok_chars,
             list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                            x -> LOWER(x)) AS toks_l
      FROM documents
    ), scored AS (
      SELECT doc_id, text, n_tok,
             (CASE WHEN n_tok >= 10 THEN 1.0 ELSE n_tok / 10.0 END
              + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
              + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
              + (CASE WHEN (CASE WHEN n_tok > 0 THEN COALESCE(tok_chars, 0) * 1.0 / n_tok ELSE 0.0 END)
                           BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality,
             LEN(list_filter(toks_l, x -> list_contains(['the','a','of','and','to'], x))) AS h_en,
             GREATEST(
               LEN(list_filter(toks_l, x -> list_contains(['der','die','das','und','zu'], x))),
               LEN(list_filter(toks_l, x -> list_contains(['the','a','of','and','to'], x))),
               LEN(list_filter(toks_l, x -> list_contains(['el','la','de','y','que'], x))),
               LEN(list_filter(toks_l, x -> list_contains(['le','la','de','et','les'], x)))) AS h_max,
             LEN(list_filter(toks_l, x -> list_contains(['der','die','das','und','zu'], x))) AS h_de
      FROM base
    ), gated AS (
      SELECT doc_id, text, n_tok, quality FROM scored
      WHERE quality >= 0.75 AND h_max > 0 AND h_de < h_en AND h_en = h_max
    ), deduped AS (
      SELECT doc_id, n_tok, quality FROM gated
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM gated
        GROUP BY REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'))
    )
    SELECT doc_id, n_tok AS n_tokens, ROUND(quality, {RATIO}) AS quality
    FROM deduped
    """,
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality >= 0.75 AND
    langid == 'en' → exact dedup (first wins) → per-doc token counts.

    Single narrow scan for the gates (all codegen'd column expressions),
    ONE fingerprint shuffle for the dedup — the whole corpus-scale
    pipeline costs one exchange."""
    from cirro_annotation_spark.operators.dedup import dedup_exact

    d = t(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id",
        "text",
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
        X.langid_stopword_votes("text").alias("lang_pred"),
    ).filter((F.col("quality") >= 0.75) & (F.col("lang_pred") == "en"))
    return dedup_exact(gated, "text", "doc_id").select(
        "doc_id", "n_tokens", F.round("quality", RATIO).alias("quality")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           SHA256(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint_sha("text").alias("fp"))


@query(
    "pipeline_embedding_centroids",
    # Cross-family composition: quality-gate documents → join their
    # embeddings (doc_id = vec_id) → per-lang centroid of the kept docs.
    # The whole chain re-derived in DuckDB, including the quality gate.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS n_tok,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit,
             list_sum(list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                                     x -> LENGTH(x))) AS tok_chars
      FROM documents
    ), gated AS (
      SELECT doc_id, lang FROM base
      WHERE (CASE WHEN n_tok >= 10 THEN 1.0 ELSE n_tok / 10.0 END
             + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
             + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
             + (CASE WHEN (CASE WHEN n_tok > 0 THEN COALESCE(tok_chars, 0) * 1.0 / n_tok ELSE 0.0 END)
                          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0 >= 0.75
    ), z AS (
      SELECT g.lang,
             UNNEST(CAST(e.embedding AS DOUBLE[])) AS x,
             GENERATE_SUBSCRIPTS(e.embedding, 1) AS dim
      FROM gated g JOIN embeddings e ON g.doc_id = e.vec_id
    )
    SELECT lang, dim, ROUND(AVG(x), {RATIO}) AS centroid_val, COUNT(*) AS n_docs
    FROM z WHERE dim <= 4
    GROUP BY lang, dim
    """,
)
def pipeline_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed documents⋈embeddings pipeline: quality gate (narrow scan
    column expressions) → equi-join docs to their vectors → per-lang
    centroid. At scale the gate prunes the doc side BEFORE the join
    shuffle, and only (doc_id, lang) travels — never text, never the
    full vector set for gated-out docs."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    gated = d.select(
        "doc_id", "lang", X.quality_score("text").alias("quality")
    ).filter(F.col("quality") >= 0.75)
    joined = gated.join(e, gated.doc_id == e.vec_id)
    return (
        joined.select(
            "lang",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
        )
        .select("lang", (F.col("pos") + 1).alias("dim"), "x")
        .filter(F.col("dim") <= 4)
        .groupBy("lang", "dim")
        .agg(
            F.round(F.avg("x"), RATIO).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@query(
    "split_train_eval",
    # Reproducible 90/10 corpus split: bucket = first 4 hex chars of
    # md5(doc_id) mod 100. Hash-based (not sample()-based) so the split
    # is deterministic across engines, runs, partitionings, and corpus
    # growth — a doc's assignment never changes when other docs arrive.
    oracle="""
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                % 100 AS BIGINT) AS bucket,
           CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                     % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (train/eval) — the reproducible
    alternative to df.sample(): pure per-row arithmetic, no shuffle, no
    RNG state, stable under repartitioning and incremental ingest."""
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train").otherwise("eval").alias("split"),
    )


@query(
    "text_zipf_histogram",
    # Frequency-of-frequencies (the Zipf diagnostic a corpus QC dashboard
    # plots log-log): two stacked aggregations — token counts, then a
    # histogram over the counts. Both shuffles carry tiny keyed partials.
    oracle="""
    WITH tf AS (
      SELECT token, COUNT(*) AS tf
      FROM (SELECT UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS token
            FROM documents)
      GROUP BY token
    )
    SELECT tf AS token_freq, COUNT(*) AS n_tokens_with_freq
    FROM tf GROUP BY tf
    """,
)
def text_zipf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy(F.col("tf").alias("token_freq")).agg(
        F.count(F.lit(1)).alias("n_tokens_with_freq")
    )


@query(
    "corpus_health_report",
    # The per-(lang, source) QC dashboard in one query: volume, exact
    # duplicate rate (1 - distinct fingerprints / docs), mean quality.
    # One scan + one keyed aggregation; the fingerprint distinct rides
    # the same shuffle as the group keys.
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(1.0 - COUNT(DISTINCT REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) * 1.0
                       / COUNT(*), {RATIO}) AS dup_rate,
           ROUND(AVG((CASE WHEN n_tok >= 10 THEN 1.0 ELSE n_tok / 10.0 END
                 + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
                 + (1.0 - LEAST(CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END * 5.0, 1.0))
                 + (CASE WHEN (CASE WHEN n_tok > 0 THEN COALESCE(tok_chars, 0) * 1.0 / n_tok ELSE 0.0 END)
                              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0), {RATIO}) AS mean_quality
    FROM (
      SELECT lang, source, text,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS n_tok,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit,
             list_sum(list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                                     x -> LENGTH(x))) AS tok_chars
      FROM documents)
    GROUP BY lang, source
    """,
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus QC dashboard: per (lang, source) volume, exact-dup
    rate, and mean quality in ONE aggregation pass."""
    from cirro_annotation_spark.operators.text import fingerprint_sha

    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "source",
            fingerprint_sha("text").alias("__fp"),
            X.quality_score("text").alias("__q"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                1.0 - F.count_distinct("__fp") / F.count(F.lit(1)), RATIO
            ).alias("dup_rate"),
            F.round(F.avg("__q"), RATIO).alias("mean_quality"),
        )
    )


@query(
    "docs_ngram_novelty",
    # Batch novelty curve — the "how much NEW text does this crawl
    # snapshot add" report behind dataset growth accounting (the
    # complement of decontamination's shared-gram flagging): for each
    # doc in the incoming batch (doc_id > the 80% cutoff, the standing
    # incremental convention), count its distinct 8-grams and how many
    # appear NOWHERE in the standing corpus. A batch whose novel share
    # collapses is re-crawling what the corpus already holds — the
    # signal dataset teams watch per snapshot. Integer columns only.
    #
    # Scale shape: tokenize → 8-gram explode (scan-local) → per-side
    # (gram, doc) distinct → LEFT ANTI hash join on gram (grams travel,
    # text does not — the decontaminate exchange discipline) → per-doc
    # rollup joined against the total-gram rollup.
    oracle="""
    WITH cut AS (SELECT MAX(doc_id) * 4 / 5 AS c FROM documents),
    -- uncast float cutoff: integer doc_id comparisons against it are
    -- truncation-equivalent to Spark's cast('long') (the dedup.py:412
    -- convention); CAST AS BIGINT would ROUND in DuckDB and diverge
    -- whenever max(doc_id) % 5 is 1 or 2 (review catch, round 8)
    s AS (SELECT doc_id,
                 list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> '') AS w
          FROM documents),
    g AS (SELECT doc_id,
                 array_to_string(list_slice(w, i, i + 7), ' ') AS gram
          FROM s, UNNEST(range(1, len(w) - 6)) AS t(i)),
    ref AS (SELECT DISTINCT gram FROM g, cut WHERE doc_id <= c),
    new_g AS (SELECT DISTINCT doc_id, gram FROM g, cut WHERE doc_id > c),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM new_g GROUP BY doc_id),
    nov AS (SELECT n.doc_id, COUNT(*) AS n_novel
            FROM new_g n LEFT JOIN ref r ON n.gram = r.gram
            WHERE r.gram IS NULL GROUP BY n.doc_id)
    SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel
    FROM tot t LEFT JOIN nov v ON t.doc_id = v.doc_id
    """,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cut = int(
        d.agg((F.max("doc_id") * 4 / 5).cast("long").alias("c")).first()["c"]
    )
    # sequence(1, n-7) is DESCENDING when n < 8 (Spark generates
    # backwards sequences) — guard short docs to an empty gram list,
    # the text_decontaminate_ngram discipline
    g = d.select("doc_id", X.tokens("text").alias("__w")).select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__w") >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 7),
                    lambda i: F.array_join(F.slice("__w", i, 8), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    ref = g.filter(F.col("doc_id") <= cut).select("gram").distinct()
    # tot and nov both consume the batch grams — checkpoint so the
    # tokenize+explode+distinct runs once, not per consumer (the
    # dim-clip one-explode-two-consumers discipline)
    new_g = (
        g.filter(F.col("doc_id") > cut)
        .distinct()
        .localCheckpoint(eager=False)
    )
    tot = new_g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    nov = (
        new_g.join(ref, "gram", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return tot.join(nov, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )


@query(
    "text_decontaminate_ngram",
    # Train/eval decontamination — the training-data hygiene staple: an
    # eval document is contaminated if it shares any 8-gram with any
    # train document. Reuses split_train_eval's deterministic md5
    # bucketing, so both engines derive the identical split. Scale
    # shape: tokenize → 8-gram explode → per-side (gram, doc) distinct
    # → equi-join on gram → per-eval-doc agg. Both sides are large at
    # corpus scale, so the gram join is a hash shuffle (no broadcast) —
    # exactly the dedup-exact exchange discipline: grams travel, text
    # does not. Skew (a boilerplate gram in millions of docs) is the
    # known hazard; the production mitigation is dropping grams above a
    # document-frequency cap before the join (cheap pre-agg), the same
    # stopword idea as text_tfidf.
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                       AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'eval' END AS split,
             list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    g AS (
      SELECT doc_id, split, array_to_string(list_slice(w, i, i + 7), ' ') AS gram
      FROM s, UNNEST(range(1, len(w) - 6)) AS t(i)),
    tr AS (SELECT DISTINCT gram, doc_id FROM g WHERE split = 'train'),
    ev AS (SELECT DISTINCT gram, doc_id FROM g WHERE split = 'eval')
    SELECT ev.doc_id,
           COUNT(DISTINCT ev.gram) AS n_shared_ngrams,
           COUNT(DISTINCT tr.doc_id) AS n_train_docs
    FROM ev JOIN tr ON ev.gram = tr.gram
    GROUP BY ev.doc_id
    """,
)
def text_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated eval docs (shared 8-grams vs the train split), with
    how many distinct 8-grams and train docs each one collides with."""
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    toks = d.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("eval").alias("split"),
        X.tokens("text").alias("__w"),
    )
    # sequence(1, n-7) is DESCENDING when n < 8 (Spark generates
    # backwards sequences) — guard short docs to an empty gram list
    grams = toks.select(
        "doc_id",
        "split",
        F.explode(
            F.when(
                F.size("__w") >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 7),
                    lambda i: F.array_join(F.slice("__w", i, 8), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    tr = grams.filter(F.col("split") == "train").select(
        "gram", F.col("doc_id").alias("__train_doc")
    ).distinct()
    ev = grams.filter(F.col("split") == "eval").select("gram", "doc_id").distinct()
    return (
        ev.join(tr, "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_ngrams"),
            F.countDistinct("__train_doc").alias("n_train_docs"),
        )
    )


# DuckDB-side lowercased token list, shared by the quality-rule and
# repetition oracles (same tokenization as X.tokens, then LOWER).
_LT_SQL = (
    "list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'),"
    " x -> x <> ''), x -> LOWER(x))"
)


@query(
    "docs_gopher_quality_rules",
    # Published-heuristics document filter (Gopher-rules shape): word
    # count band, mean-word-length band, minimum distinct stopwords,
    # repetition cap — each rule surfaced as its own flag so downstream
    # can audit WHY a doc was dropped, plus the composite verdict.
    # Thresholds chosen non-vacuous on the fixture (both outcomes occur
    # for every rule). Flags are computed from the UNROUNDED metrics on
    # both sides — int/int division is the same IEEE double everywhere.
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_LT_SQL} AS lt,
             LENGTH(REPLACE(TRIM(text), ' ', '')) AS n_letter_chars
      FROM documents
    ), m AS (
      SELECT doc_id,
             LEN(lt) AS n_words,
             LEN(list_intersect(lt, ['the','a','of','and','to'])) AS sw_distinct,
             n_letter_chars * 1.0 / NULLIF(LEN(lt), 0) AS mwl,
             1.0 - LEN(list_distinct(lt)) * 1.0 / NULLIF(LEN(lt), 0) AS dup
      FROM tk
    )
    SELECT doc_id, n_words, sw_distinct,
           ROUND(mwl, {RATIO}) AS mean_word_len,
           ROUND(dup, {RATIO}) AS dup_token_ratio,
           (n_words BETWEEN 20 AND 80) AS rule_word_count,
           (mwl >= 4.2 AND mwl <= 10.0) AS rule_mean_word_len,
           (sw_distinct >= 2) AS rule_stopwords,
           (dup <= 0.5) AS rule_repetition,
           ((n_words BETWEEN 20 AND 80) AND mwl >= 4.2 AND mwl <= 10.0
            AND sw_distinct >= 2 AND dup <= 0.5) AS passes
    FROM m
    """,
)
def docs_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-by-rule quality gate — one codegen'd scan, no shuffle: every
    metric is an array expression over the token list, so the filter
    runs at ingest speed on any corpus size."""
    d = t(spark, sf_dir, "documents")
    lt = F.transform(X.tokens("text"), lambda x: F.lower(x))
    n_words = F.size(lt)
    sw = F.size(
        F.array_intersect(lt, F.array(*[F.lit(w) for w in X.STOPWORDS["en"]]))
    )
    mwl = X.mean_word_len("text")
    dup = 1.0 - F.size(F.array_distinct(lt)) / F.nullif(n_words, F.lit(0))
    rule_wc = (n_words >= 20) & (n_words <= 80)
    rule_mwl = (mwl >= 4.2) & (mwl <= 10.0)
    rule_sw = sw >= 2
    rule_rep = dup <= 0.5
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        sw.alias("sw_distinct"),
        F.round(mwl, RATIO).alias("mean_word_len"),
        F.round(dup, RATIO).alias("dup_token_ratio"),
        rule_wc.alias("rule_word_count"),
        rule_mwl.alias("rule_mean_word_len"),
        rule_sw.alias("rule_stopwords"),
        rule_rep.alias("rule_repetition"),
        (rule_wc & rule_mwl & rule_sw & rule_rep).alias("passes"),
    )


@query(
    "docs_repetition_ratio",
    # Within-document repetition: duplicate-token ratio + the most
    # frequent token and its share (the "fraction of chars in most
    # common n-gram" family of quality filters). The oracle finds the
    # top token with an UNNEST→GROUP BY→ROW_NUMBER chain; the Spark
    # side does the same argmax as a scan-local array fold — no explode,
    # no shuffle, which is the difference between a projection and a
    # doc_id-keyed aggregation at corpus scale.
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_LT_SQL} AS lt FROM documents),
    ex AS (SELECT doc_id, UNNEST(lt) AS tok FROM tk),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS n FROM ex GROUP BY 1, 2),
    top AS (SELECT doc_id, tok, n,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY n DESC, tok ASC) AS rn
            FROM cnt),
    base AS (SELECT doc_id, LEN(lt) AS n_tokens,
                    LEN(list_distinct(lt)) AS n_distinct
             FROM tk)
    SELECT b.doc_id, b.n_tokens, b.n_distinct,
           ROUND(1.0 - b.n_distinct * 1.0 / NULLIF(b.n_tokens, 0),
                 {RATIO}) AS dup_token_ratio,
           tp.tok AS top_token,
           ROUND(tp.n * 1.0 / NULLIF(b.n_tokens, 0), {RATIO}) AS top_token_frac
    FROM base b JOIN top tp ON b.doc_id = tp.doc_id AND tp.rn = 1
    """,
)
def docs_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    lt = F.transform(X.tokens("text"), lambda x: F.lower(x))
    n_tokens = F.size(lt)
    n_distinct = F.size(F.array_distinct(lt))
    # argmax(count, then lexicographically-smallest token) as ONE run-
    # length fold over the SORTED token array: equal tokens are adjacent
    # after array_sort, so the running-run length is the token's count,
    # and a strictly-greater update rule makes the FIRST (= smallest)
    # token win ties — identical to the argmax-with-min-token rule. The
    # previous form re-filtered the full token array once per distinct
    # token (O(n_distinct x n_tokens) per doc); this is O(n log n)
    # (optimization r15, guide §1.2 per-task work: measured 3.6 -> 0.9 s
    # at sf0.1, bit-identical output).
    srt = F.array_sort(lt)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(-1).alias("best_cnt"),
        F.lit("").alias("best_tok"),
    )

    def _step(acc, x):
        run = F.when(
            acc["prev"].isNotNull() & (acc["prev"] == x), acc["run"] + 1
        ).otherwise(F.lit(1))
        better = run > acc["best_cnt"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, x).otherwise(acc["best_tok"]).alias("best_tok"),
        )

    best = F.aggregate(srt, init, _step)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(
            1.0 - n_distinct / F.nullif(n_tokens, F.lit(0)), RATIO
        ).alias("dup_token_ratio"),
        best["best_tok"].alias("top_token"),
        F.round(
            best["best_cnt"] / F.nullif(n_tokens, F.lit(0)), RATIO
        ).alias("top_token_frac"),
    )


@query(
    "text_redact_terms",
    # Lexicon-driven scrubbing — the PII-redaction shape (the fixture
    # text has no emails/phones, so the demo lexicon is two corpus terms;
    # swap the pattern for email/phone regexes in production). \\b is an
    # ASCII word boundary in BOTH Java regex (Spark) and RE2 (DuckDB).
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '\\b(spark|customer)\\b')) AS n_redacted,
           SUBSTRING(regexp_replace(text, '\\b(spark|customer)\\b', '<TERM>', 'g'),
                     1, 80) AS redacted_prefix
    FROM documents
    """,
)
def text_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub a term lexicon out of every document and count the hits —
    single scan, regexp runs inside codegen; the redacted text streams
    straight back to parquet without a shuffle."""
    d = t(spark, sf_dir, "documents")
    pat = r"\b(spark|customer)\b"
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).alias("n_redacted"),
        F.substring(F.regexp_replace("text", pat, "<TERM>"), 1, 80).alias(
            "redacted_prefix"
        ),
    )


@query(
    "sample_stratified_hash",
    # Deterministic stratified downsampling: dominant language keeps 20%
    # of its md5 buckets, the rest keep 50% — corpus rebalancing that is
    # reproducible across engines, runs, partitionings, and incremental
    # ingest (df.sample() is none of those). Same md5-bucket arithmetic
    # split_train_eval hash-proves.
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 100 AS bucket
      FROM documents)
    SELECT doc_id, lang, bucket FROM r
    WHERE bucket < CASE lang WHEN 'en' THEN 20 ELSE 50 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    rate = F.when(F.col("lang") == "en", 20).otherwise(50)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@query(
    "pipeline_pack_sequences",
    # Concat-and-chunk sequence packing — the layout step of a pretraining
    # pipeline: documents are concatenated per source shard in doc_id
    # order and sliced into fixed 256-token training chunks; each doc's
    # chunk is the one containing its first token. All-integer window
    # arithmetic, so the oracle is knife-edge-free. Scale: ONE shuffle
    # (the per-source window sort); token counts travel, text does not —
    # at 100 TB the sort key set is (source, doc_id, n_tokens) only.
    oracle="""
    WITH counted AS (
      SELECT doc_id, source,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), laid AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM counted
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           start_offset,
           start_offset // 256 AS chunk_id,
           CASE WHEN n_tokens > 0
                THEN (start_offset + n_tokens - 1) // 256 > start_offset // 256
                ELSE FALSE END AS spans_boundary
    FROM laid
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "source", X.token_count("text").cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    laid = counted.withColumn("start_offset", start)
    chunk = F.expr("start_offset DIV 256")
    end_chunk = F.expr("(start_offset + n_tokens - 1) DIV 256")
    return laid.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        chunk.alias("chunk_id"),
        F.when(F.col("n_tokens") > 0, end_chunk > chunk)
        .otherwise(F.lit(False))
        .alias("spans_boundary"),
    )


@query(
    "docs_segment_dedup_ratio",
    # Chunk-level near-dedup statistics (the line-dedup pass of
    # RefinedWeb/CCNet, adapted to newline-free fixture text): each doc is
    # cut into consecutive 10-token segments; a segment is duplicated if
    # its fingerprint occurs more than once in the corpus. Scale: after
    # the explode the plan carries (doc_id, 16-byte md5) only — the
    # segment COUNT aggregate and the join back both shuffle fingerprints,
    # never text; the per-doc rollup keys on doc_id.
    oracle=f"""
    WITH segs AS (
      SELECT doc_id,
             UNNEST(list_transform(
                 range(CAST(CEIL(LEN(toks) / 10.0) AS BIGINT)),
                 i -> md5(array_to_string(toks[i*10+1 : i*10+10], ' ')))) AS fp
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(TRIM(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), cnt AS (
      SELECT fp, COUNT(*) AS n FROM segs GROUP BY fp
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           ROUND(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
                 {RATIO}) AS dup_ratio
    FROM segs s JOIN cnt c USING (fp)
    GROUP BY s.doc_id
    """,
)
def docs_segment_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    nseg = F.ceil(F.size(toks) / F.lit(10.0)).cast("long")
    seg_fps = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), nseg - 1),
            lambda i: F.md5(F.array_join(F.slice(toks, i * 10 + 1, 10), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The segment-fingerprint frame feeds TWO consumers with no common
    # exchange (the count build and the probe join) — without the
    # checkpoint the tokenize + md5-per-segment scan runs twice per
    # action; the count stage materializes it, the probe reuses it
    # (optimization r15, guide §5 shared-frame law, the
    # docs_boilerplate_lines twin; measured 2.19 -> 1.25 s at sf0.1).
    segs = d.select("doc_id", F.explode(seg_fps).alias("fp")).localCheckpoint(
        eager=False
    )
    cnt = segs.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return (
        segs.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(dup).alias("n_dup_segments"),
            F.round(F.sum(dup) / F.count(F.lit(1)), RATIO).alias("dup_ratio"),
        )
    )


@query(
    "sample_mixture_weighted",
    # Corpus-mixture rebalancing: every source declares a target weight
    # (1 + source_number % 3 — non-uniform so the gate is non-vacuous) and
    # is hash-downsampled to its target share of the total. The acceptance
    # test bucket/10000 < w*total/(W*cnt) is cross-multiplied into pure
    # BIGINT arithmetic (bucket*W*cnt < w*total*10000) — no float rate, no
    # rounding knife-edge, and sources under their share keep everything
    # without an explicit min(1, ·) cap. Scale: the (source, cnt) frame is
    # a tiny single-shuffle aggregate; the global (total, W) pair is a
    # broadcast 1-row aggregate OF that frame; the per-doc gate is then
    # scan-local — the corpus itself never shuffles.
    oracle="""
    WITH per_src AS (
      SELECT source, COUNT(*) AS cnt,
             1 + CAST(SUBSTRING(source, 4) AS BIGINT) % 3 AS w
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(cnt) AS total, SUM(w) AS big_w FROM per_src
    )
    SELECT d.doc_id, d.source,
           CAST(('0x' || SUBSTRING(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                AS BIGINT) % 10000 AS bucket
    FROM documents d
    JOIN per_src p USING (source)
    CROSS JOIN tot
    WHERE (CAST(('0x' || SUBSTRING(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                AS BIGINT) % 10000) * big_w * p.cnt < p.w * total * 10000
    """,
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_src = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "w", 1 + F.substring("source", 4, 10).cast("long") % 3
        )
    )
    tot = per_src.agg(
        F.sum("cnt").alias("total"), F.sum("w").alias("big_w")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10000
    )
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("bucket") * F.col("big_w") * F.col("cnt")
            < F.col("w") * F.col("total") * F.lit(10000)
        )
        .select("doc_id", "source", "bucket")
    )


def unimax_waterfill(
    strata: list[tuple[tuple, int]], budget: int
) -> list[tuple[tuple, int, int]]:
    """The UniMax allocation recurrence, standalone for property tests:
    visit strata smallest-first (ties by key); each takes
    min(its tokens, remaining_budget // remaining_strata). Returns
    (key, tokens, allocation) in visit order. Invariants (pinned in
    tests/test_text.py): Σ alloc == min(budget, Σ tokens); alloc ≤
    tokens everywhere; any stratum not at its cap got ≥ every
    smaller-or-equal stratum's allocation (fairness)."""
    ordered = sorted(strata, key=lambda kv: (kv[1], kv[0]))
    rem_b, rem_n = budget, len(ordered)
    out = []
    for key, tok in ordered:
        fair = rem_b // rem_n
        alloc = min(tok, fair)
        out.append((key, tok, alloc))
        rem_b -= alloc
        rem_n -= 1
    return out


@query(
    "sample_unimax_budget",
    # UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    # More Effective Language Sampling for Large-Scale Multilingual
    # Pretraining", arXiv:2304.09151): distribute a total token budget
    # (half the corpus) across (source, lang) strata by waterfilling —
    # visit strata SMALLEST-FIRST; a stratum under the running fair
    # share (remaining_budget floor-div remaining_strata) contributes
    # everything it has and its unused share redistributes to the rest;
    # larger strata are capped at their recomputed fair share. The
    # integer floor-division recurrence is exactly reproducible, so the
    # allocation itself is hash-checked (DuckDB recursive CTE walks the
    # same recurrence). Docs are then hash-downsampled to their
    # stratum's rate with the cross-multiplied BIGINT gate
    # (bucket·tok < budget·10000 — no float rate, same discipline as
    # sample_mixture_weighted), and the report shows target vs achieved
    # per stratum.
    #
    # Scale shape: the stratum stats are one small aggregate; the
    # waterfill runs over that bounded frame (strata count, not corpus
    # size — collected as model state like centroids); the per-doc gate
    # is scan-local behind a broadcast join. The corpus never shuffles.
    oracle="""
    WITH RECURSIVE per AS (
      SELECT source, lang,
             SUM(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                 x -> x <> ''))) AS tok
      FROM documents GROUP BY source, lang),
    ord AS (
      SELECT source, lang, tok,
             ROW_NUMBER() OVER (ORDER BY tok, source, lang) AS rn
      FROM per),
    alloc AS (
      SELECT 0 AS rn,
             (SELECT SUM(tok) // 2 FROM per) AS rem_b,
             (SELECT COUNT(*) FROM per) AS rem_n,
             CAST(NULL AS VARCHAR) AS source, CAST(NULL AS VARCHAR) AS lang,
             CAST(0 AS BIGINT) AS tok, CAST(0 AS BIGINT) AS budget
      UNION ALL
      SELECT o.rn,
             a.rem_b - LEAST(o.tok, a.rem_b // a.rem_n),
             a.rem_n - 1,
             o.source, o.lang, o.tok,
             LEAST(o.tok, a.rem_b // a.rem_n)
      FROM alloc a JOIN ord o ON o.rn = a.rn + 1
      WHERE a.rem_n > 0),
    d AS (
      SELECT doc_id, source, lang,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> '')) AS n_tok,
             CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 10000 AS bucket
      FROM documents),
    kept AS (
      SELECT d.source, d.lang, d.n_tok
      FROM d JOIN alloc a ON d.source = a.source AND d.lang = a.lang
      WHERE d.bucket * a.tok < a.budget * 10000)
    SELECT a.source, a.lang, a.tok AS n_tokens, a.budget,
           CAST(COUNT(k.n_tok) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(SUM(k.n_tok), 0) AS BIGINT) AS n_tokens_kept
    FROM alloc a LEFT JOIN kept k
      ON a.source = k.source AND a.lang = k.lang
    WHERE a.rn > 0
    GROUP BY a.source, a.lang, a.tok, a.budget
    """,
)
def sample_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", X.token_count("text").alias("n_tok")
    )
    per = (
        d.groupBy("source", "lang")
        .agg(F.sum("n_tok").cast("long").alias("tok"))
        .collect()
    )  # bounded model state: one row per stratum, like centroids
    strata = [((r["source"], r["lang"]), r["tok"]) for r in per]
    total = sum(tok for _, tok in strata)
    rows = [
        (key[0], key[1], tok, alloc)
        for key, tok, alloc in unimax_waterfill(strata, total // 2)
    ]
    alloc = spark.createDataFrame(
        rows, "source string, lang string, tok long, budget long"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10000
    )
    kept = (
        d.withColumn("bucket", bucket)
        .join(F.broadcast(alloc), ["source", "lang"])
        .filter(F.col("bucket") * F.col("tok") < F.col("budget") * 10000)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("n_tokens_kept"),
        )
    )
    return (
        alloc.join(kept, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.col("tok").alias("n_tokens"),
            "budget",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias(
                "n_docs_kept"
            ),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias(
                "n_tokens_kept"
            ),
        )
    )


@query(
    "docs_chunk_overlap",
    # RAG/context-window chunking: split each document into fixed-size
    # character windows with overlap (size 400, stride 300 → 100-char
    # overlap), the standard retrieval-index prep step. Chunk starts are
    # 1-based; both sequence() (Spark) and generate_series (DuckDB) are
    # stop-inclusive, so boundary chunks agree exactly. Scale: the
    # explode is scan-local (zero shuffles — fan-out happens inside the
    # scan stage), per-doc fan-out is ceil(len/stride), and the overlap
    # bounds byte amplification at size/stride ≈ 1.33x regardless of
    # corpus size. An empty doc still yields its one (empty) chunk, so
    # the chunk table keeps a row for every doc_id.
    oracle="""
    SELECT doc_id,
           (s - 1) // 300 AS chunk_idx,
           s AS chunk_start,
           substr(text, CAST(s AS INT), 400) AS chunk_text,
           LENGTH(substr(text, CAST(s AS INT), 400)) AS chunk_len
    FROM documents, UNNEST(generate_series(1, GREATEST(LENGTH(text), 1), 300)) AS u(s)
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 400, 300
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "text",
            F.posexplode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(stride)
                )
            ).alias("chunk_idx", "chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_start",
            F.expr(f"substring(text, chunk_start, {size})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


@query(
    "docs_token_entropy",
    # Token-distribution Shannon entropy per document — the lexical-
    # diversity quality signal (degenerate/repetitive docs score near 0,
    # varied prose near ln(n_tokens)). Computed as ln(n) - sum(c*ln c)/n
    # so each term is derived once from exact integer counts; only the
    # final double is rounded. Scale: explode carries (doc_id, token);
    # the (doc, token) count and the per-doc rollup are two map-side-
    # combining shuffles, both on narrow keys.
    oracle=f"""
    WITH tc AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM (SELECT doc_id,
                   UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                      x -> x <> '')) AS token
            FROM documents)
      GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), {RATIO}) AS entropy_nats
    FROM tc
    GROUP BY doc_id
    """,
)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return tc.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, RATIO).alias(
            "entropy_nats"
        ),
    )


@query(
    "text_langid_confusion",
    # Classifier evaluation as a query: the langid heuristic's confusion
    # matrix against the labeled lang column, with per-cell share of the
    # true-label row — the eval table any labeling pipeline publishes.
    # One scan computes the prediction (codegen'd vote fold), one narrow
    # shuffle on the (label, prediction) pair — at most n_langs² cells
    # regardless of corpus size; the share window runs over those cells,
    # not the corpus.
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                            x -> LOWER(x)) AS toks
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             LEN(list_filter(toks, x -> list_contains(['der','die','das','und','zu'], x))) AS h_de,
             LEN(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS h_en,
             LEN(list_filter(toks, x -> list_contains(['el','la','de','y','que'], x))) AS h_es,
             LEN(list_filter(toks, x -> list_contains(['le','la','de','et','les'], x))) AS h_fr
      FROM tok
    ), pred AS (
      SELECT lang,
             CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
                  WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
                  WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
                  ELSE 'fr' END AS lang_pred
      FROM hits
    )
    SELECT lang, lang_pred, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6)
             AS share_of_label
    FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cells = (
        d.select("lang", X.langid_stopword_votes("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), RATIO).alias("share_of_label"),
    )


@query(
    "docs_pii_scan",
    # PII detection counts per document — email + NANP-phone regex
    # classes, the scan that gates a corpus before training. The fixture
    # text contains no PII (no digits at all), so the query PLANTS
    # deterministic markers derived from doc_id first — both engines
    # build the identical string, and the detector arithmetic (count,
    # class split, redacted preview) is then verified on real hits
    # rather than vacuously on zeros. One codegen'd scan, no shuffle;
    # swap the planted column for the raw text column in production.
    oracle=r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS scan_text
      FROM documents
    )
    SELECT doc_id,
           LEN(regexp_extract_all(scan_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           LEN(regexp_extract_all(scan_text, '\+1-555-[0-9]{4}')) AS n_phone,
           SUBSTRING(regexp_replace(regexp_replace(scan_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
               GREATEST(LENGTH(scan_text) - 79, 1), 80) AS redacted_tail
    FROM planted
    """,
)
def docs_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+1-555-[0-9]{4}"
    d = t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("scan_text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("scan_text", email, "<EMAIL>"), phone, "<PHONE>"
    )
    return planted.select(
        "doc_id",
        F.regexp_count("scan_text", F.lit(email)).alias("n_email"),
        F.regexp_count("scan_text", F.lit(phone)).alias("n_phone"),
        F.substring(
            redacted,
            F.greatest(F.length("scan_text") - 79, F.lit(1)),
            F.lit(80),
        ).alias("redacted_tail"),
    )


_DUP_SPAN_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n FROM documents),
    sh AS (SELECT doc_id, u.i AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS sh
           FROM t, LATERAL UNNEST(generate_series(1, n-7)) AS u(i)
           WHERE n >= 8),
    dup AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS p
            FROM sh s JOIN dup USING (sh),
                 LATERAL UNNEST(generate_series(0, 7)) AS o(o)),
    c AS (SELECT doc_id, COUNT(*) AS covered_tokens FROM cov GROUP BY doc_id)
    SELECT t.doc_id, t.n AS n_tokens,
           COALESCE(c.covered_tokens, 0) AS covered_tokens,
           ROUND(COALESCE(c.covered_tokens, 0) * 1.0 / t.n, 6) AS dup_coverage
    FROM t LEFT JOIN c USING (doc_id)
"""


@query("docs_dup_span_coverage", oracle=_DUP_SPAN_ORACLE)
def docs_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal (Lee et al. 2021, arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of each document's tokens covered by an 8-gram that also
    appears in ANOTHER document. The suffix-array ExactSubstr operator
    re-expressed in shuffle-friendly form: 8-token shingles + position
    bookkeeping gives the same per-document coverage statistic a suffix
    array yields, without a global sort over the corpus string.

    Scale shape: one shuffle keyed on the shingle (at 100 TB the key
    would be xxhash64(shingle) — 8 bytes, not the text; the raw string
    is kept here so DuckDB hash-verifies the full pipeline), the
    coverage explode (x8) touches only shingles that ARE duplicated,
    and documents never shuffle — per-doc totals join back on doc_id.
    Coverage 1.0 flags the planted exact dups; mid-range values are the
    boilerplate/template detector ExactSubstr exists for.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    W = 8
    # Lazy checkpoint: the shingle frame feeds the dup aggregate AND the
    # coverage join — see docs_dup_span_removal (optimization r15).
    sh = base.filter(F.col("n_tokens") >= W).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (W - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("toks", i, W), " ").alias("sh"),
                ),
            )
        ).alias("s"),
    ).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.sh").alias("sh")
    ).localCheckpoint(eager=False)
    dup = (
        sh.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("sh")
    )
    cov = (
        sh.join(dup, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (W - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered_tokens"))
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_coverage"),
        )
    )


_DUP_SPAN_REMOVAL_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n FROM documents),
    sh AS (SELECT doc_id, u.i AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS sh
           FROM t, LATERAL UNNEST(generate_series(1, n-7)) AS u(i)
           WHERE n >= 8),
    dup AS (SELECT sh, MIN(doc_id) AS canon FROM sh GROUP BY sh
            HAVING COUNT(DISTINCT doc_id) >= 2),
    rem AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS p
            FROM sh s JOIN dup d USING (sh),
                 LATERAL UNNEST(generate_series(0, 7)) AS o(o)
            WHERE s.doc_id <> d.canon),
    kept AS (SELECT t.doc_id, u.p AS p, toks[u.p] AS tok
             FROM t, LATERAL UNNEST(generate_series(1, t.n)) AS u(p)
             WHERE NOT EXISTS (SELECT 1 FROM rem r
                               WHERE r.doc_id = t.doc_id AND r.p = u.p)),
    reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY p) AS cleaned_text
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, t.n AS n_tokens, COALESCE(reb.n_kept, 0) AS n_kept,
           COALESCE(reb.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN reb USING (doc_id)
"""


@query("docs_dup_span_removal", oracle=_DUP_SPAN_REMOVAL_ORACLE)
def docs_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr terminal stage (Lee et al. 2021): REWRITE each document
    with its duplicated 8-gram spans removed, keeping the occurrence in
    the canonical (min-doc_id) holder of each duplicated shingle — every
    duplicated span survives exactly once corpus-wide, deterministically.

    Scale shape: candidate discovery is docs_dup_span_coverage's
    shingle-keyed shuffle; the removal set is (doc_id, position) int
    pairs (never text); the rebuild is the one stage that must move
    tokens — a single doc_id-keyed shuffle of (pos, token) narrow rows,
    the same rewrite cost class as dedup_survivor_corpus. Documents
    with nothing removed pass through with n_kept = n_tokens.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    W = 8
    # The shingle frame feeds TWO consumers (the duplicated-shingle
    # aggregate and the join that marks removable positions) — without
    # the lazy checkpoint the tokenize+explode+array_join scan runs
    # twice (optimization r15, shared-frame law: 3.2 -> 2.6 s at
    # sf0.1). A window min/max over partitionBy(sh) would be ~0.5 s
    # faster still but puts every occurrence of one hot shingle in a
    # single task — the groupBy keeps partial aggregation and AQE skew
    # handling, which is the 100 TB-safe shape; rejected deliberately.
    sh = base.filter(F.col("n_tokens") >= W).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (W - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("toks", i, W), " ").alias("sh"),
                ),
            )
        ).alias("s"),
    ).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.sh").alias("sh")
    ).localCheckpoint(eager=False)
    dup = (
        sh.groupBy("sh")
        .agg(
            F.count_distinct("doc_id").alias("__nd"),
            F.min("doc_id").alias("canon"),
        )
        .filter(F.col("__nd") >= 2)
        .select("sh", "canon")
    )
    rem = (
        sh.join(dup, "sh")
        .filter(F.col("doc_id") != F.col("canon"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (W - 1))
            ).alias("p"),
        )
        .distinct()
    )
    kept = (
        base.select(
            "doc_id", F.posexplode("toks").alias("p0", "tok")
        )
        .select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
        .join(rem, ["doc_id", "p"], "left_anti")
    )
    reb = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return base.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


_UNIGRAM_PPL_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_LT_SQL} AS lt FROM documents),
    ex AS (SELECT doc_id, UNNEST(lt) AS tok FROM tk),
    vocab AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok),
    tot AS (SELECT SUM(n) AS n_total, COUNT(*) AS v FROM vocab),
    lp AS (SELECT v.tok, LN((v.n + 1.0) / (t.n_total + t.v)) AS logp
           FROM vocab v CROSS JOIN tot t),
    sc AS (SELECT e.doc_id, COUNT(*) AS n_tokens, SUM(l.logp) AS sum_logp
           FROM ex e JOIN lp l ON e.tok = l.tok GROUP BY e.doc_id)
    SELECT doc_id, n_tokens,
           ROUND(-sum_logp / n_tokens, 6) AS mean_nll,
           ROUND(EXP(-sum_logp / n_tokens), 2) AS unigram_ppl
    FROM sc
"""


@query("docs_unigram_perplexity", oracle=_UNIGRAM_PPL_ORACLE)
def docs_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filter (Wenzek et al. 2020,
    arXiv:1911.00359), approximated with a corpus-trained Laplace-
    smoothed unigram LM — the model-free form of the KenLM scoring a
    real pipeline runs: train token log-probs on the corpus itself,
    score each document by mean negative log-likelihood. High-ppl docs
    are gibberish/outliers; unusually LOW ppl flags boilerplate.

    Scale shape: the "model" is the vocab aggregate (token, count) —
    one token-keyed shuffle to train, one to score (explode join vocab,
    then a doc_id-keyed rollup). The 1-row total broadcasts; the vocab
    side of the scoring join is corpus-vocabulary-sized (Zipf: ≪
    corpus), so Spark broadcast-joins it when it fits and sort-merges
    on tok otherwise — both correct, neither moves document text.
    """
    d = t(spark, sf_dir, "documents")
    lt = F.transform(X.tokens("text"), lambda x: F.lower(x))
    ex = d.select("doc_id", F.explode(lt).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count("*").alias("n"))
    tot = vocab.agg(
        F.sum("n").alias("n_total"), F.count("*").alias("v")
    )
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.log((F.col("n") + 1.0) / (F.col("n_total") + F.col("v"))).alias(
            "logp"
        ),
    )
    sc = (
        ex.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("logp").alias("sum_logp"),
        )
    )
    nll = -F.col("sum_logp") / F.col("n_tokens")
    return sc.select(
        "doc_id",
        "n_tokens",
        F.round(nll, 6).alias("mean_nll"),
        F.round(F.exp(nll), 2).alias("unigram_ppl"),
    )


@query(
    "docs_ccnet_buckets",
    # CCNet's head/middle/tail routing (Wenzek et al. 2020,
    # arXiv:1911.00359 §4.4): within each source, rank documents by LM
    # perplexity and cut into terciles — "head" (lowest ppl) trains
    # high-quality models, "tail" is usually dropped. Reuses the
    # corpus-trained Laplace unigram NLL (docs_unigram_perplexity's
    # arithmetic verbatim); the tercile is NTILE(3) over (ROUNDED nll,
    # doc_id) so bucket boundaries are decided on the 6dp grain both
    # engines share, never on raw-float ulps. Report per (source,
    # bucket): doc count and the nll range — min/max of already-rounded
    # values are order statistics, exact across engines.
    #
    # Scale shape: adds ONE source-keyed window over the narrow
    # (doc_id, source, nll) frame on top of the perplexity plan's two
    # token shuffles; text never shuffles.
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_LT_SQL} AS lt FROM documents),
    ex AS (SELECT doc_id, UNNEST(lt) AS tok FROM tk),
    vocab AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok),
    tot AS (SELECT SUM(n) AS n_total, COUNT(*) AS v FROM vocab),
    lp AS (SELECT v.tok, LN((v.n + 1.0) / (t.n_total + t.v)) AS logp
           FROM vocab v CROSS JOIN tot t),
    sc AS (SELECT e.doc_id, COUNT(*) AS n_tokens, SUM(l.logp) AS sum_logp
           FROM ex e JOIN lp l ON e.tok = l.tok GROUP BY e.doc_id),
    nll AS (SELECT s.doc_id, d.source,
                   ROUND(-s.sum_logp / s.n_tokens, 6) AS mean_nll
            FROM sc s JOIN documents d USING (doc_id)),
    b AS (SELECT source, mean_nll,
                 NTILE(3) OVER (PARTITION BY source
                                ORDER BY mean_nll, doc_id) AS ppl_bucket
          FROM nll)
    SELECT source, CAST(ppl_bucket AS INT) AS ppl_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(mean_nll) AS min_nll, MAX(mean_nll) AS max_nll
    FROM b GROUP BY source, ppl_bucket
    """,
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    lt = F.transform(X.tokens("text"), lambda x: F.lower(x))
    ex = d.select("doc_id", F.explode(lt).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count("*").alias("n"))
    tot = vocab.agg(F.sum("n").alias("n_total"), F.count("*").alias("v"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.log((F.col("n") + 1.0) / (F.col("n_total") + F.col("v"))).alias(
            "logp"
        ),
    )
    sc = (
        ex.join(lp, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("logp").alias("sum_logp"))
    )
    nll = sc.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        F.round(-F.col("sum_logp") / F.col("n_tokens"), 6).alias("mean_nll"),
    )
    w = Window.partitionBy("source").orderBy("mean_nll", "doc_id")
    return (
        nll.withColumn("ppl_bucket", F.ntile(3).over(w))
        .groupBy("source", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("mean_nll").alias("min_nll"),
            F.max("mean_nll").alias("max_nll"),
        )
    )


@query(
    "docs_per_source_cap",
    # C4/RefinedWeb-style per-domain cap: keep at most 5 documents per
    # source (the fixture's domain proxy), ranked best-first by length
    # with a deterministic doc_id tie-break. One source-keyed window
    # shuffle; at 100 TB the rank carries (source, n_chars, doc_id)
    # only — text stays at the scan until the final semi-join-free
    # filter (the rank IS computed on the full row here because the
    # fixture row is narrow; production splits rank/hydrate exactly
    # like dedup_survivor_corpus).
    oracle="""
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS cap_rank
      FROM documents) r
    WHERE cap_rank <= 5
    """,
)
def docs_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= 5)
        .select("doc_id", "source", "cap_rank")
    )


@query(
    "docs_domain_quality_gate",
    # FineWeb-style per-domain quality-percentile gating (Penedo et al.
    # 2024 — per-source score thresholds, not one global cutoff, so a
    # uniformly-low domain isn't wiped out and a uniformly-high one
    # still sheds its worst tail; VERDICT r11 item 9, the last
    # widely-used curation shape). Score = alpha-character density in
    # exact ppm (positive-BIGINT division, no floats); the per-source
    # p30 threshold is the smallest score whose cumulative count
    # crosses 30% — integer cross-multiplied (cum*100 >= n*30), never a
    # percentile_cont interpolation.
    #
    # Scale shape: the percentile runs on the (source, score)-grain
    # CELL table (<= |sources| x 1e6 rows whatever the corpus), so the
    # cumulative window is value-grain, never doc-grain — the
    # lineitem_shiplag_percentiles discipline; thresholds (|sources|
    # rows) broadcast back into the scan. No doc-grain shuffle at all:
    # the gate's only data-sized term is the scan itself.
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             (CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Za-z]',
                    '', 'g')) AS BIGINT) * 1000000)
               // LENGTH(text) AS score_ppm
      FROM documents WHERE LENGTH(text) > 0),
    cells AS (
      SELECT source, score_ppm, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
    cum AS (
      SELECT source, score_ppm,
             SUM(cnt) OVER (PARTITION BY source ORDER BY score_ppm) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n_tot
      FROM cells),
    thr AS (
      SELECT source, CAST(MIN(score_ppm) AS BIGINT) AS thr_ppm
      FROM cum WHERE cum * 100 >= n_tot * 30 GROUP BY source)
    SELECT s.doc_id, s.source, s.score_ppm, thr.thr_ppm,
           s.score_ppm >= thr.thr_ppm AS kept
    FROM s JOIN thr USING (source)
    """,
)
def docs_domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_alpha = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[A-Za-z]", "")
    )
    scored = (
        d.filter(n_chars > 0)
        .select(
            "doc_id",
            "source",
            n_alpha.alias("__na"),
            n_chars.alias("__nc"),
        )
        .select(
            "doc_id",
            "source",
            F.expr("(__na * 1000000) div __nc").alias("score_ppm"),
        )
    )
    cells = scored.groupBy("source", "score_ppm").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("score_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    thr = (
        cells.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n_tot", F.sum("cnt").over(w_tot))
        .filter(F.col("cum") * 100 >= F.col("n_tot") * 30)
        .groupBy("source")
        .agg(F.min("score_ppm").cast("long").alias("thr_ppm"))
    )
    return scored.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "score_ppm",
        "thr_ppm",
        (F.col("score_ppm") >= F.col("thr_ppm")).alias("kept"),
    )


@query(
    "docs_boilerplate_lines",
    # C4-style boilerplate-line removal (Raffel et al. 2020 §2.2 — "we
    # discarded any line that occurred more than [k] times in the
    # dataset"): corpus-frequency line filter + document REWRITE, the
    # curation shape that runs before content dedup on web text. The
    # fixture has no newlines, so lines are deterministic 12-token
    # windows (the messy-URL-fixture precedent: the operator under test
    # is the explode -> corpus-frequency -> rewrite machinery, not the
    # splitter) — near-dup docs share contiguous windows, so the
    # fixture drops real lines (13 distinct lines reach freq >= 3 at
    # sf0.01).
    #
    # Scale shape: the frequency aggregate shuffles (sha, doc_id)
    # fingerprint pairs only — line text never leaves its scan; the
    # boilerplate set (lines with >= 3 distinct docs) is small by the
    # C4 assumption and BROADCASTs back as sha keys; the rebuild is one
    # doc_id-keyed aggregation whose collect_list skips dropped lines.
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(text), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    lines AS (
      SELECT doc_id, i AS line_idx,
             array_to_string(tk[1 + 12*i : 12*(i+1)], ' ') AS line
      FROM toks CROSS JOIN range(0, 200) r(i) WHERE 12*i < len(tk)),
    freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           COALESCE(string_agg(CASE WHEN nd < 3 THEN line END, ' '
                               ORDER BY line_idx), '') AS cleaned_text
    FROM lines JOIN freq USING (line)
    GROUP BY doc_id
    """,
)
def docs_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
    )
    lines = (
        d.filter(F.size(tk) > 0)  # zero-token docs emit no lines (oracle twin)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(tk) / F.lit(12)).cast("int") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(tk, 1 + i * 12, 12), " "
                    ),
                )
            ).alias("line_idx", "line"),
        )
        .withColumn("line_sha", F.sha2(F.col("line"), 256))
        # The line frame feeds TWO consumers (the boilerplate-sha
        # broadcast build and the probe join) — without this the
        # tokenize + 12-token slice + sha2 scan runs twice per action.
        # Lazy is safe AND optimal here: the broadcast stage is
        # dependency-serialized before the probe stage, so the first
        # stage materializes the checkpoint and the probe reuses it
        # (optimization r15, guide §5 shared-frame law; measured
        # 2.39 -> 1.4 s at sf0.1).
        .localCheckpoint(eager=False)
    )
    bad = (
        lines.select("line_sha", "doc_id")
        .groupBy("line_sha")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("line_sha", F.lit(True).alias("is_bad"))
    )
    flagged = lines.join(F.broadcast(bad), "line_sha", "left")
    kept_struct = F.when(
        F.col("is_bad").isNull(),
        F.struct(F.col("line_idx"), F.col("line")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("is_bad"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def _perceptron_oracle(epochs: int = 3) -> str:
    """Generated unrolled-CTE oracle for the batch perceptron: one
    (errors, deltas) + weight-update CTE pair PER EPOCH from a single
    margin template (the kmeans_oracle_ctes pattern — the 6-term margin
    expression exists once here, not hand-copied per epoch). Text is
    COALESCE'd to '' so a NULL-text row yields all-zero features on
    BOTH engines (the Spark side coalesces identically) — without it,
    NULL features silently drop rows from Spark's SUM while the oracle
    counts them."""
    margin = ("y * ({w}.w0*x0 + {w}.w1*x1 + {w}.w2*x2"
              " + {w}.w3*x3 + {w}.w4*x4 + {w}.w5*x5)")
    parts = ["""WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\\s+'),
                         x -> x <> '') AS toks,
             LENGTH(COALESCE(text, ''))
               - LENGTH(REGEXP_REPLACE(COALESCE(text, ''), '[0-9]', '', 'g'))
               AS n_digit,
             LENGTH(COALESCE(text, ''))
               - LENGTH(REGEXP_REPLACE(COALESCE(text, ''), '[^\\w\\s]', '', 'g'))
               AS n_punct
      FROM documents),
    f AS (
      SELECT CAST(1 AS BIGINT) AS x0,
             CAST(LEN(toks) AS BIGINT) AS x1,
             CAST(COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0)
                  AS BIGINT) AS x2,
             CAST(LEN(list_filter(toks, x -> list_contains(
                    ['the','a','of','and','to'], LOWER(x)))) AS BIGINT) AS x3,
             CAST(n_digit AS BIGINT) AS x4,
             CAST(n_punct AS BIGINT) AS x5,
             CASE WHEN LEN(toks) >= 40
                   AND COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0)
                       >= 2 * LEN(toks)
                   AND COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0)
                       <= 12 * LEN(toks)
                  THEN 1 ELSE -1 END AS y
      FROM base),
    w1 AS (
      SELECT SUM(y * x0) AS w0, SUM(y * x1) AS w1, SUM(y * x2) AS w2,
             SUM(y * x3) AS w3, SUM(y * x4) AS w4, SUM(y * x5) AS w5
      FROM f)"""]
    for t_ in range(2, epochs + 1):
        m = margin.format(w="w")
        deltas = ",\n             ".join(
            f"SUM(CASE WHEN {m} <= 0 THEN y * x{j} ELSE 0 END) AS d{j}"
            for j in range(6)
        )
        parts.append(f""",
    e{t_} AS (
      SELECT COUNT(*) FILTER (WHERE {m} <= 0) AS n_err,
             {deltas}
      FROM f CROSS JOIN w{t_ - 1} w),
    w{t_} AS (
      SELECT {", ".join(
        f"w{t_ - 1}.w{j} + e{t_}.d{j} AS w{j}" for j in range(6))}
      FROM w{t_ - 1} CROSS JOIN e{t_})""")
    checksum = " + ".join(f"w{j}*{j + 1}" for j in range(6))
    arms = [f"""
    SELECT 1 AS epoch, CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_errors,
           CAST({checksum} AS BIGINT) AS w_checksum
    FROM w1"""]
    for t_ in range(2, epochs + 1):
        arms.append(f"""
    SELECT {t_}, CAST(e{t_}.n_err AS BIGINT),
           CAST({checksum} AS BIGINT)
    FROM w{t_} CROSS JOIN e{t_}""")
    return "".join(parts) + "\n    UNION ALL".join(arms)


@query(
    "docs_classifier_train_perceptron",
    # In-engine TRAINING for the quality-classifier family — the
    # producer whose consumer (docs_quality_classifier) scores with
    # pinned weights today, mirroring how embeddings_kmeans_train
    # produces the IVF literals. A batch perceptron (Rosenblatt rule,
    # synchronous epoch updates: w += Σ_misclassified y·x) over six
    # INTEGER features (bias, token count, token chars, stopword hits,
    # digit count, punct count) with labels from the Gopher band
    # (n_tok >= 40 AND 2 <= mwl <= 12, integer cross-multiplied) —
    # every margin, update, and error count is exact BIGINT, so the
    # 3-epoch iterative result carries a full unrolled-CTE oracle (the
    # kmeans/BPE/graph fixed-point discipline applied to a linear
    # model). Margin <= 0 counts as misclassified (w0 = 0 makes epoch
    # 1's update the class-difference vector — the standard batch
    # start). Output: per epoch, the error count RECOMPUTED IN-PLAN
    # under that epoch's input weights plus the updated weights'
    # checksum. Oracle epochs are GENERATED from one margin template
    # (_perceptron_oracle), not hand-copied.
    #
    # Scale shape: per epoch ONE map-side-combined aggregate (six
    # conditional delta sums) over the feature scan; weights are 6
    # BIGINTs of driver model state re-broadcast as literals; text
    # never leaves the scan stage. Epochs are data passes, exactly
    # like Lloyd rounds.
    oracle=_perceptron_oracle(epochs=3),
)
def docs_classifier_train_perceptron(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # NULL text => all-zero features, matching the oracle's COALESCE;
    # the shared frame's features are null exactly when text is NULL,
    # so coalescing the integers here is the same arithmetic as
    # tokenizing coalesce(text, '') was. One tokenization pass for the
    # whole quality family instead of one per epoch-producing query.
    f = _doc_features(spark, sf_dir)
    n_tok_c = F.coalesce(F.col("n_tok"), F.lit(0))
    tok_chars_c = F.coalesce(F.col("tok_chars"), F.lit(0))
    feats = f.select(
        F.lit(1).cast("long").alias("x0"),
        n_tok_c.cast("long").alias("x1"),
        tok_chars_c.cast("long").alias("x2"),
        F.coalesce(F.col("n_sw"), F.lit(0)).cast("long").alias("x3"),
        F.coalesce(F.col("n_digit"), F.lit(0)).cast("long").alias("x4"),
        F.coalesce(F.col("n_punct"), F.lit(0)).cast("long").alias("x5"),
        F.when(
            (n_tok_c >= 40)
            & (tok_chars_c >= 2 * n_tok_c)
            & (tok_chars_c <= 12 * n_tok_c),
            1,
        )
        .otherwise(-1)
        .cast("long")
        .alias("y"),
    )

    n_feat = 6
    w = [0] * n_feat
    epoch_frames = []
    for epoch in (1, 2, 3):
        margin = F.col("y") * sum(
            F.lit(w[j]) * F.col(f"x{j}") for j in range(n_feat)
        )
        mis = margin <= 0
        agg = feats.agg(
            *[
                F.sum(
                    F.when(mis, F.col("y") * F.col(f"x{j}")).otherwise(0)
                ).alias(f"d{j}")
                for j in range(n_feat)
            ],
        )
        row = agg.first()  # bounded model state: 6 BIGINTs per epoch
        w = [w[j] + int(row[f"d{j}"]) for j in range(n_feat)]
        checksum = sum(w[j] * (j + 1) for j in range(n_feat))
        # n_errors recomputed IN-PLAN under the epoch's input weights —
        # the output plan re-derives the count from data, only the
        # updated weights ride along as literals (the kmeans summary
        # discipline)
        epoch_frames.append(
            feats.agg(
                F.lit(epoch).cast("int").alias("epoch"),
                F.sum(mis.cast("long")).alias("n_errors"),
                F.lit(checksum).cast("long").alias("w_checksum"),
            )
        )
    out = epoch_frames[0]
    for fr in epoch_frames[1:]:
        out = out.unionByName(fr)
    return out


@query(
    "docs_quality_classifier",
    # A pinned-weight logistic quality classifier — the fasttext-style
    # model-scoring shape without the model dependency: five cheap
    # features (scaled token count, mean word length, digit/punct
    # noise, EN-stopword density) dotted with PINNED weights, sigmoid,
    # threshold at z>=0. Both engines evaluate the identical
    # left-to-right double expression, so the hash verifies the full
    # arithmetic. All codegen'd column expressions — one scan, zero
    # shuffles; swap the literals for trained weights in production
    # (they are model state exactly like the IVF centroids).
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS toks,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    ), feats AS (
      SELECT doc_id,
             LEN(toks) AS n_tok,
             CASE WHEN LEN(toks) > 0
                  THEN list_sum(list_transform(toks, x -> LENGTH(x))) * 1.0 / LEN(toks)
                  ELSE 0.0 END AS mwl,
             CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END AS dr,
             CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS pr,
             CASE WHEN LEN(toks) > 0
                  THEN LEN(list_filter(toks, x -> list_contains(
                         ['the','a','of','and','to'], LOWER(x)))) * 1.0 / LEN(toks)
                  ELSE 0.0 END AS swr
      FROM base
    ), scored AS (
      SELECT doc_id,
             -1.5 + 0.8 * (n_tok / 100.0) + 0.35 * mwl - 6.0 * dr - 4.0 * pr
                  + 2.0 * swr AS z
      FROM feats
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-z)), {RATIO}) AS quality_prob,
           CAST(z >= 0 AS INT) AS keep
    FROM scored
    """,
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scored over the shared feature frame (one tokenization pass for
    # the family); arithmetic order matches the oracle exactly.
    f = _doc_features(spark, sf_dir)
    n_tok, n_chars = F.col("n_tok"), F.col("n_chars")
    mwl = F.when(n_tok > 0, F.col("tok_chars") * 1.0 / n_tok).otherwise(
        F.lit(0.0)
    )
    dr = F.when(n_chars > 0, F.col("n_digit") / n_chars).otherwise(F.lit(0.0))
    pr = F.when(n_chars > 0, F.col("n_punct") / n_chars).otherwise(F.lit(0.0))
    swr = F.when(n_tok > 0, F.col("n_sw") / n_tok).otherwise(F.lit(0.0))
    z = (
        F.lit(-1.5)
        + 0.8 * (n_tok / 100.0)
        + 0.35 * mwl
        - 6.0 * dr
        - 4.0 * pr
        + 2.0 * swr
    )
    return f.select(
        "doc_id",
        F.round(1.0 / (1.0 + F.exp(-z)), RATIO).alias("quality_prob"),
        (z >= 0).cast("int").alias("keep"),
    )


@query(
    "pipeline_curation_report",
    # Capstone composition of the round-6b curation ops: classifier
    # gate (pinned-weight logistic, keep iff z>=0) → exact dedup
    # (first-wins on normalized fingerprint) → per-source cap (best-5
    # by probability) → per-source report. Each stage reuses the
    # EXACT arithmetic of its standalone query, so the composed oracle
    # is their SQL composition — any drift in any stage breaks the
    # hash. Plan: one scan computes features+fingerprint, one
    # fingerprint window, one source window, one final agg — text
    # never shuffles (fingerprint/probability only).
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS toks,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit,
             REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS f
      FROM documents
    ), scored AS (
      SELECT doc_id, source, f,
             -1.5 + 0.8 * (LEN(toks) / 100.0)
                  + 0.35 * (CASE WHEN LEN(toks) > 0
                            THEN list_sum(list_transform(toks, x -> LENGTH(x))) * 1.0 / LEN(toks)
                            ELSE 0.0 END)
                  - 6.0 * (CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END)
                  - 4.0 * (CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END)
                  + 2.0 * (CASE WHEN LEN(toks) > 0
                           THEN LEN(list_filter(toks, x -> list_contains(
                                  ['the','a','of','and','to'], LOWER(x)))) * 1.0 / LEN(toks)
                           ELSE 0.0 END) AS z
      FROM base
    ), kept AS (
      SELECT doc_id, source, f, 1.0 / (1.0 + EXP(-z)) AS prob
      FROM scored WHERE z >= 0
    ), deduped AS (
      SELECT doc_id, source, prob,
             ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
      FROM kept
    ), capped AS (
      SELECT doc_id, source, prob,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY prob DESC, doc_id ASC) AS cap_rank
      FROM deduped WHERE rn = 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(SUM(prob), {RATIO}) AS sum_prob,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM capped WHERE cap_rank <= 5
    GROUP BY source
    """,
)
def pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mwl = F.when(n_tok > 0, tok_chars * 1.0 / n_tok).otherwise(F.lit(0.0))
    z = (
        F.lit(-1.5)
        + 0.8 * (n_tok / 100.0)
        + 0.35 * mwl
        - 6.0 * X.digit_ratio("text")
        - 4.0 * X.punct_ratio("text")
        + 2.0 * X.stopword_ratio("text", ["the", "a", "of", "and", "to"])
    )
    f_norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    scored = d.select(
        "doc_id",
        "source",
        f_norm.alias("f"),
        z.alias("z"),
        # Stage barrier ABOVE the gate: PushDownPredicate would rewrite
        # filter(z>=0) to re-derive z below the projection, and the
        # HOF-lambda features are interpreted (not codegen'd), so no
        # subexpression elimination rescues the duplicate — the
        # tokenizer then runs TWICE (measured 60s vs 33s for the same
        # projection unfiltered at the 100x tier). The materialized
        # frame is the narrow (id, source, fingerprint, z) score
        # output, exactly what a multi-stage pipeline persists anyway.
    ).localCheckpoint(eager=False)
    kept = scored.filter(F.col("z") >= 0).select(
        "doc_id", "source", "f", (1.0 / (1.0 + F.exp(-F.col("z")))).alias("prob")
    )
    w_fp = Window.partitionBy("f").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w_fp)).filter(F.col("rn") == 1)
    w_cap = Window.partitionBy("source").orderBy(
        F.col("prob").desc(), F.col("doc_id").asc()
    )
    capped = deduped.withColumn("cap_rank", F.row_number().over(w_cap)).filter(
        F.col("cap_rank") <= 5
    )
    return capped.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.sum("prob"), RATIO).alias("sum_prob"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "split_kfold_assign",
    # k-fold cross-validation assignment (k=5) by the same md5-bucket
    # discipline as split_train_eval: a doc's fold never changes under
    # repartitioning, corpus growth, or engine choice. Emits the fold
    # id plus per-fold counts as a sanity report — the reproducible
    # alternative to randomSplit's RNG-state-dependent folds.
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                  % 5 AS BIGINT) AS fold
      FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM f GROUP BY fold
    """,
)
def split_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 5
    )
    return (
        d.select(fold.alias("fold"), "doc_id")
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "pipeline_pack_ffd",
    # VERDICT r11 item 6a: the greedy IS SQL-expressible — one recursive
    # CTE step per doc (rank order within source), carrying the bin
    # remainders as a LIST column; all sources advance in the same
    # iteration, so depth = max docs per source. list_position returns
    # 0 (not NULL) for "no bin fits" — that's the new-bin branch.
    # tests/test_pack_ffd.py still pins capacity/completeness/
    # determinism/bin-count invariants.
    oracle="""
    WITH RECURSIVE counted AS (
      SELECT doc_id, source,
             CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ordered AS (
      SELECT source, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM counted
    ),
    pack AS (
      SELECT source, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id,
             [GREATEST(256 - n_tokens, 0)] AS rem
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.source, o.rn, o.doc_id, o.n_tokens,
             CAST(CASE WHEN fit.idx = 0 THEN len(p.rem)
                       ELSE fit.idx - 1 END AS BIGINT) AS bin_id,
             CASE WHEN fit.idx = 0
                  THEN list_concat(p.rem, [GREATEST(256 - o.n_tokens, 0)])
                  ELSE list_transform(p.rem, (r, i) ->
                         CASE WHEN i = fit.idx THEN r - o.n_tokens
                              ELSE r END)
             END AS rem
      FROM pack p
      JOIN ordered o ON o.source = p.source AND o.rn = p.rn + 1
      CROSS JOIN LATERAL (
        SELECT list_position(
                 list_transform(p.rem, r -> r >= o.n_tokens), true) AS idx
      ) fit
    )
    SELECT doc_id, source, n_tokens, bin_id FROM pack
    """,
)
def pipeline_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-Fit-Decreasing sequence packing (the utilization-optimizing
    twin of pipeline_pack_sequences' concat-and-chunk): within each
    source shard, docs sorted by token count descending first-fit into
    256-token bins; oversized docs get singleton bins. FFD is the
    classic 11/9·OPT+1 bin-packing heuristic — fewer padded tokens per
    batch than sequential concat when doc lengths vary.

    Scale shape: packing groups (source shards) are independent, so the
    operator is one groupBy + Arrow applyInPandas per shard — state is
    the shard's bin list, never cross-shard. Shard sizing at 100 TB
    bounds the per-group memory (a shard = what one training file
    holds anyway). The first-fit scan here is O(docs x bins); swap the
    linear probe for a best-fit segment tree if shards grow past ~1e5
    docs. The greedy is hash-checked end-to-end: the oracle replays the
    same first-fit recursion as a DuckDB recursive CTE (one step per
    rank, remainders carried as a list), upgraded from rows-only in r12.
    """
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "source", X.token_count("text").cast("long").alias("n_tokens")
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        capacity = 256
        # remaining[:nbins] is the live bin state; the first-fit probe
        # is one vectorized argmax over it (C-speed per doc) instead of
        # a Python scan — 25k-doc shards at the 500k-doc tier measured
        # ~6x faster, same assignment bit-for-bit.
        remaining = np.empty(len(pdf), dtype=np.int64)
        nbins = 0
        assign: list[int] = []
        for nt in pdf["n_tokens"].to_numpy():
            fits = remaining[:nbins] >= nt
            i = int(np.argmax(fits)) if nbins else 0
            if nbins and fits[i]:
                remaining[i] -= nt
                assign.append(i)
            else:
                remaining[nbins] = max(0, capacity - nt)
                assign.append(nbins)
                nbins += 1
        pdf["bin_id"] = pd.array(assign, dtype="int64")
        return pdf

    return counted.groupBy("source").applyInPandas(
        ffd, schema="doc_id long, source string, n_tokens long, bin_id long"
    )


@query(
    "docs_expectations_report",
    # Deequ-style declarative quality gate: six expectations (null,
    # uniqueness, range, value-set, regex, length) compiled into ONE
    # aggregation pass — a 100 TB ingest check costs a single scan with
    # map-side-combined conditional sums, not one job per rule. Rules
    # are chosen so the fixture both passes AND fails some (a report of
    # all-green rows would be a vacuous hash). The oracle restates each
    # conditional count independently.
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN n_chars IS NULL OR NOT (n_chars BETWEEN 100 AND 400)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ('en','fr','es','de')
                 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        CAST(SUM(CASE WHEN source IS NULL OR NOT regexp_matches(source, '^src[0-9]$')
                 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        CAST(SUM(CASE WHEN text IS NULL OR LENGTH(text) < 100
                 THEN 1 ELSE 0 END) AS BIGINT) AS v5
      FROM documents)
    SELECT 'not_null' AS rule, 'text' AS col_name, v0 AS violations,
           n AS n_rows, v0 = 0 AS passed FROM agg
    UNION ALL SELECT 'unique', 'doc_id', v1, n, v1 = 0 FROM agg
    UNION ALL SELECT 'in_range[100,400]', 'n_chars', v2, n, v2 = 0 FROM agg
    UNION ALL SELECT 'in_set[en,fr,es,de]', 'lang', v3, n, v3 = 0 FROM agg
    UNION ALL SELECT 'matches_regex[^src[0-9]$]', 'source', v4, n, v4 = 0 FROM agg
    UNION ALL SELECT 'min_length[100]', 'text', v5, n, v5 = 0 FROM agg
    """,
)
def docs_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cirro_annotation_spark.operators import expectations as E

    d = t(spark, sf_dir, "documents")
    return E.expectations_report(
        d,
        [
            E.not_null("text"),
            E.unique("doc_id"),
            E.in_range("n_chars", 100, 400),
            E.in_set("lang", ["en", "fr", "es", "de"]),
            E.matches_regex("source", "^src[0-9]$"),
            E.min_length("text", 100),
        ],
    )


@query(
    "sample_fixed_k_hash",
    # Deterministic fixed-SIZE uniform sample: the k smallest md5 values
    # over a seeded key — "give me exactly 200 eval docs" with the same
    # answer on any engine, run, or partitioning (df.sample() and
    # ORDER BY random() are neither). Spark plans orderBy+limit as
    # TakeOrderedAndProject: per-partition top-k heaps + a k-row merge,
    # NO global sort — at 100 TB each executor ships k candidate rows,
    # not its partition. The md5 rank rides along so the result is
    # self-describing.
    oracle="""
    SELECT doc_id, lang, source,
           md5('fixk|' || CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    ORDER BY sample_key ASC
    LIMIT 200
    """,
)
def sample_fixed_k_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("fixk|"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", "source", key.alias("sample_key"))
        .orderBy(F.col("sample_key").asc())
        .limit(200)
    )


@query(
    "text_bm25_topk",
    # Okapi BM25 lexical retrieval (Robertson/Sparck-Jones, public
    # literature; Lucene's non-negative idf variant) — the SPARSE
    # retrieval member beside the dense ANN/RAG stack. Scale shape: the
    # corpus-wide explode is filtered to the 3 query terms BEFORE any
    # shuffle (posting-list semantics — at 100 TB only matching
    # (doc, term) rows move); doc lengths are scan-local arithmetic;
    # N/avgdl are a 1-row broadcast. Both engines evaluate the
    # IDENTICAL left-to-right float formula on exact integer inputs
    # (tf, df, dlen, N), the quality-classifier discipline; ordering
    # uses the ROUNDED score so rank ties resolve identically.
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                        x -> x <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
      WHERE tok IN ('dup', 'vector', 'scan') GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             SUM(LN(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * (dl.dlen / stats.avgdl))))
               AS score
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, bm25_rank FROM (
      SELECT doc_id, ROUND(score, 6) AS bm25,
             ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id ASC)
               AS bm25_rank
      FROM scored
    ) ranked WHERE bm25_rank <= 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cirro_annotation_spark.operators.text import token_count, tokens

    terms = ["dup", "vector", "scan"]
    d = t(spark, sf_dir, "documents")
    # ONE tokenizer pass: doc lengths and the posting explode both read
    # this frame. The interpreted-HOF tokenizer otherwise evaluates once
    # per consumer (the pipeline_curation_report double-evaluation
    # lesson) — measured 15.4 s → 8.6 s at the 500k-doc tier. The barrier
    # is a lazy checkpoint: materialized on first use, reused after.
    base = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(
        eager=False
    )
    dl = base.select("doc_id", F.size("toks").cast("long").alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    per_term = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (1.2 + 1))
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * (F.col("dlen") / F.col("avgdl")))
                )
            ).alias("w"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(F.round(F.sum("w"), 6).alias("bm25"))
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return top.withColumn("bm25_rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "bm25_rank"
    )


@query(
    "sample_weighted_k",
    # Weighted sampling WITHOUT replacement via sequential Poisson
    # priorities (Ohlsson, public literature): each row draws priority
    # q = w / u with u a deterministic seeded-md5 uniform and
    # w = n_chars; the k LARGEST priorities are the sample — inclusion
    # probability rises with weight, yet the draw is reproducible
    # across engines, runs, and partitionings (the property rand()-
    # based weighted sampling lacks). One pass + TakeOrderedAndProject,
    # no global sort. Determinism is STRUCTURAL, not rounded-away:
    # with u = (2b+1)/131072, q = w·131072/(2b+1) is one exact integer
    # multiply + one correctly-rounded IEEE division — bit-identical on
    # any IEEE-754 engine, no libm (an earlier ln()-based A-ES variant
    # failed the 10x tier on a last-ulp log divergence).
    oracle="""
    SELECT doc_id, n_chars, priority FROM (
      SELECT doc_id, n_chars,
             CAST(n_chars AS DOUBLE) * 131072 /
             (2 * CAST(('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 4))
                       AS BIGINT) + 1) AS priority
      FROM documents
    ) keyed
    ORDER BY priority DESC, doc_id ASC
    LIMIT 200
    """,
)
def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    priority = F.col("n_chars").cast("double") * 131072 / (2 * bucket + 1)
    return (
        d.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(200)
    )


@query(
    "sample_es_reservoir",
    # Efraimidis–Spirakis weighted reservoir (2006, IPL) — the textbook
    # member of the weighted-without-replacement family beside
    # sample_weighted_k's Ohlsson sequential Poisson (VERDICT r11 item
    # 7). A-ES keeps the k rows maximizing u^(1/w); equivalently the k
    # MINIMIZING (-ln u)/w — computed here on an engine-exact lattice:
    # u = (2b+1)/131072 from 4 md5 hex chars (65536 points), micro-log
    # m = floor(-ln(u)·1e6) probed EQUAL Spark-vs-DuckDB on ALL 65536
    # lattice points (tests/test_sampling_lattice.py — the r10 A-ES
    # attempt died on a last-ulp ln divergence precisely because its u
    # domain wasn't a probeable lattice), then key = (m·2^30) div w —
    # pure positive-BIGINT truncating division, bit-identical anywhere.
    # One scan + TakeOrderedAndProject; no global sort, no rand().
    oracle="""
    SELECT doc_id, n_chars, key_q FROM (
      SELECT doc_id, n_chars,
             (CAST(FLOOR(-LN((2 * CAST(('0x' || substring(
                 md5('esamp|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                 + 1) / 131072.0) * 1000000) AS BIGINT)
              * 1073741824) // n_chars AS key_q
      FROM documents WHERE n_chars > 0)
    ORDER BY key_q ASC, doc_id ASC
    LIMIT 150
    """,
)
def sample_es_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    b = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("esamp|"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    m = F.floor(
        -F.log((2 * b + 1) / F.lit(131072.0)) * 1000000
    ).cast("long")
    return (
        d.select("doc_id", "n_chars", m.alias("__m"))
        .select(
            "doc_id",
            "n_chars",
            F.expr("(__m * 1073741824) div n_chars").alias("key_q"),
        )
        .orderBy(F.col("key_q").asc(), F.col("doc_id").asc())
        .limit(150)
    )


@query(
    "docs_chi_square_langs",
    # Pearson chi-square independence cells for lang × source — the
    # CATEGORICAL member of the drift-test family (PSI compares
    # distributions, KS compares samples, CUSUM watches a series; chi²
    # tests two categorical factors). One count aggregation; marginals
    # come from share windows over the |langs|×|sources| CELL table —
    # constant-size at any corpus scale (the langid-confusion
    # discipline). expected = row_tot·col_tot/n and the contribution
    # (o-e)²/e are the identical IEEE expression both engines, over
    # exact integer counts.
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, observed,
             SUM(observed) OVER (PARTITION BY lang) AS row_tot,
             SUM(observed) OVER (PARTITION BY source) AS col_tot,
             SUM(observed) OVER () AS n
      FROM cells
    )
    SELECT lang, source, observed,
           ROUND(CAST(row_tot AS DOUBLE) * col_tot / n, 6) AS expected,
           ROUND(POW(observed - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                 / (CAST(row_tot AS DOUBLE) * col_tot / n), 6) AS chi2_contrib
    FROM m
    """,
)
def docs_chi_square_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    w_row = Window.partitionBy("lang")
    w_col = Window.partitionBy("source")
    w_all = Window.partitionBy()
    e = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    )
    return (
        cells.withColumn("row_tot", F.sum("observed").over(w_row))
        .withColumn("col_tot", F.sum("observed").over(w_col))
        .withColumn("n", F.sum("observed").over(w_all))
        .select(
            "lang",
            "source",
            "observed",
            F.round(e, 6).alias("expected"),
            F.round(F.pow(F.col("observed") - e, 2) / e, 6).alias("chi2_contrib"),
        )
    )


@query(
    "sample_flatten_length_dist",
    # Distribution-matching downsampler: flatten the corpus length
    # distribution by accepting each document with probability
    # min_band_count / its_band_count — every length band downsamples
    # to the rarest band's size in expectation (the DoReMi-adjacent
    # rebalancing shape, here with a uniform target). The acceptance
    # test is INTEGER cross-multiplied against a seeded-md5 uniform
    # (bucket·c_band < min_c·65536) — exact on both engines, no float
    # rate anywhere (the mixture-weighted discipline). Scale: band
    # counts are a 5-row broadcast model state; the corpus side is one
    # scan + codegen'd accept, no shuffle of text.
    oracle="""
    WITH banded AS (
      SELECT doc_id,
             CAST(LEAST(n_chars // 100, 5) AS BIGINT) AS band
      FROM documents
    ),
    bc AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS c FROM banded GROUP BY band),
    mn AS (SELECT MIN(c) AS min_c FROM bc)
    SELECT b.doc_id, b.band
    FROM banded b JOIN bc USING (band) CROSS JOIN mn
    WHERE CAST(('0x' || substring(md5('flat|' || CAST(b.doc_id AS VARCHAR)), 1, 4))
               AS BIGINT) * bc.c < mn.min_c * 65536
    """,
)
def sample_flatten_length_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    banded = d.select(
        "doc_id",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(5)).cast("long").alias("band"),
    )
    bc = banded.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("c"))
    mn = bc.agg(F.min("c").alias("min_c"))
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("flat|"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    return (
        banded.join(F.broadcast(bc), "band")
        .crossJoin(F.broadcast(mn))
        .filter(bucket * F.col("c") < F.col("min_c") * 65536)
        .select("doc_id", "band")
    )


@query(
    "docs_top_mass_per_source",
    # Cumulative-mass truncation (the nucleus/top-p shape applied to
    # corpus curation): per source, keep the highest-quality documents
    # until they cover half the source's total token MASS — a budget
    # in tokens, not documents (per-source cap keeps a COUNT; this
    # keeps a share of volume, which is what a training-token budget
    # actually is). One source-keyed rank window; the inclusion test
    # is integer cross-multiplied (2·running_mass_before < total_mass)
    # on exact n_chars sums — no float shares. Deterministic tie order
    # by (n_chars desc, doc_id).
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS mass_before,
             SUM(n_chars) OVER (PARTITION BY source) AS total_mass
      FROM documents
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE 2 * mass_before < total_mass
    """,
)
def docs_top_mass_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    d = t(spark, sf_dir, "documents")
    ranked = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.sum("n_chars").over(w_run) - F.col("n_chars")).alias("mass_before"),
        F.sum("n_chars").over(w_tot).alias("total_mass"),
    )
    return ranked.filter(
        2 * F.col("mass_before") < F.col("total_mass")
    ).select("source", "doc_id", "n_chars")


@query(
    "text_bpe_train_merges",
    # BPE tokenizer TRAINING (Sennrich et al. 2016) — with kmeans this
    # round completes the "train the artifact in-engine" pair: the
    # merge table this emits is what a token-count / pack_sequences
    # consumer would apply. Exactness: integer frequencies, string
    # equality, pinned (count DESC, left, right) tie-break — no floats,
    # so the full 6-round iterative result carries a full unrolled-CTE
    # oracle (operators/text.py: bpe_oracle_sql).
    #
    # Scale shape: ONE corpus-scale shuffle total (token -> word-freq
    # aggregate); every merge round runs on the vocabulary table
    # (Zipf: orders smaller than the corpus), one vocab-keyed
    # pair-count shuffle + a literal replace per round, lineage
    # truncated per round. The merge table itself is r rows of driver
    # model state — the artifact a tokenizer ships.
    oracle=X.bpe_oracle_sql(merges=6),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bpe_train(spark, t(spark, sf_dir, "documents"), merges=6)


_DSIR_BUCKET_SQL = (
    "CAST(('0x' || SUBSTRING(md5(feat), 1, 4)) AS BIGINT) % 256"
)


@query(
    "docs_dsir_weights",
    # DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    # every document by its hashed-n-gram importance log-weight
    # log p_target(feats) - log p_raw(feats) under Laplace-smoothed
    # bucket unigram+bigram distributions (target = the English slice,
    # raw = the whole corpus). High weight = "looks like the target
    # domain"; the paper resamples proportionally — the weight column
    # here IS that sampling key. md5-bucket hashing is the repo's
    # portable seeded-hash recipe (split_train_eval), B = 256.
    #
    # Scale shape: ONE explode of (unigram + bigram) features feeding a
    # single (doc_id, bucket) count aggregate; both consumers — the
    # 256-row bucket model (the trained ARTIFACT a production run
    # persists) and the per-doc rollup — hang off that SAME exchange,
    # so Spark materializes it once (ReusedExchange; one md5 pass over
    # the corpus, measured 2x vs the naive two-branch explode at the
    # 10x tier) and the rollup shuffles <= 256 rows per doc instead of
    # per-feature rows. Per-bucket ln weighted by count (not repeated
    # addition) on BOTH engines; sums of <= 256 products round at 6dp
    # (the perplexity discipline, tighter here).
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS cnt FROM (
        SELECT doc_id, lang,
               {_DSIR_BUCKET_SQL} AS bucket
        FROM (
          SELECT doc_id, lang, UNNEST(list_concat(toks,
                   list_transform(range(1, LEN(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1]))) AS feat
          FROM (SELECT doc_id, lang,
                       list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents)))
      GROUP BY doc_id, lang, bucket),
    b AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS ct,
             SUM(cnt) AS cr
      FROM g GROUP BY bucket),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM b),
    lr AS (
      SELECT bucket,
             LN((ct + 1.0) / (nt + 256.0)) - LN((cr + 1.0) / (nr + 256.0))
               AS logratio
      FROM b CROSS JOIN tot)
    SELECT g.doc_id, CAST(SUM(g.cnt) AS BIGINT) AS n_feats,
           ROUND(SUM(g.cnt * lr.logratio), 6) AS dsir_logweight
    FROM g JOIN lr USING (bucket)
    GROUP BY g.doc_id
    """,
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = X.tokens(F.lower(F.col("text")))
    bigrams = F.zip_with(
        # greatest(..., 0): slice throws on negative length, so a
        # zero-token (whitespace-only) document must clamp — the
        # DuckDB side's range(1, 0) is empty and drops the doc
        # gracefully; without the clamp the whole query dies on one
        # degenerate row (round-7 review finding).
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda l, r: F.concat(l, F.lit(" "), r),
    )
    g = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.concat(toks, bigrams)).alias("feat"),
        )
        .select(
            "doc_id",
            "lang",
            (F.conv(F.substring(F.md5("feat"), 1, 4), 16, 10).cast("long") % 256)
            .alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # Train-then-score is inherently two consumers of this frame
        # (the bucket model must see the whole corpus before scoring
        # starts). A LAZY localCheckpoint materializes it once at first
        # action — one explode + one md5 pass total — and keeps query
        # construction job-free (the sim_* discipline). The frame is
        # <= 256 rows/doc of (ids, counts), spill-safe, and its
        # lineage truncation is the graph-family precedent.
        .localCheckpoint(eager=False)
    )
    b = g.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "ct"
        ),
        F.sum("cnt").alias("cr"),
    )
    tot = b.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lr = b.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + 256.0))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + 256.0))
        ).alias("logratio"),
    )
    return (
        g.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("cnt") * F.col("logratio")), 6).alias(
                "dsir_logweight"
            ),
        )
    )


@query(
    "text_bpe_encode_fertility",
    # The CONSUMER of text_bpe_train_merges: encode the corpus with the
    # learned merges and report per-language tokenizer fertility (BPE
    # tokens per word) — the metric tokenizer teams actually watch
    # (high fertility on a language = the vocab underserves it). A
    # word's BPE token count is its symbol count in the final trained
    # vocabulary state, so encoding is a (token -> vocab) join: no
    # re-segmentation pass, and the training CTE chain w0..wN IS the
    # encoder table on both engines.
    #
    # Scale shape: bpe_fit's one corpus shuffle + vocab-only rounds,
    # then ONE token-keyed join (vocab side is Zipf-small; Spark
    # broadcasts when it fits, sort-merges otherwise) and a lang
    # rollup. All-integer interiors; the single float is the final
    # ratio, rounded at 6.
    oracle=X.bpe_oracle_ctes(merges=6) + """,
    enc AS (
      SELECT REPLACE(symbols, chr(31), '') AS word,
             CAST(LEN(string_split(symbols, chr(31))) AS BIGINT) AS n_sym
      FROM w6),
    ex AS (
      SELECT doc_id, lang,
             UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents)
    SELECT ex.lang,
           CAST(COUNT(DISTINCT ex.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_words,
           CAST(SUM(enc.n_sym) AS BIGINT) AS total_bpe_tokens,
           ROUND(CAST(SUM(enc.n_sym) AS DOUBLE) / COUNT(*), 6)
             AS avg_tokens_per_word
    FROM ex JOIN enc ON ex.tok = enc.word
    GROUP BY ex.lang
    """,
)
def text_bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    _, vocab = X.bpe_fit(spark, d, "text", merges=6)
    enc = vocab.select(
        F.replace(F.col("symbols"), F.lit(X.BPE_SEP), F.lit("")).alias("word"),
        F.size(F.split("symbols", X.BPE_SEP)).cast("long").alias("n_sym"),
    )
    ex = d.select(
        "doc_id", "lang",
        F.explode(X.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    return (
        ex.join(enc, ex["tok"] == enc["word"])
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("total_words"),
            F.sum("n_sym").cast("long").alias("total_bpe_tokens"),
            F.round(
                F.sum("n_sym").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens_per_word"),
        )
    )


@query(
    "pipeline_length_buckets",
    # Length-grouped batching report — the padding-waste arithmetic
    # behind every trainer's length-bucketed sampler (HF
    # group_by_length, T5 pack-or-bucket): split the corpus into 8
    # global token-length octiles and report per-bucket padding waste
    # (docs padded to the bucket max) vs what a single global batch
    # would pay. The waste column IS the justification for bucketing;
    # the report is what you check before picking bucket count.
    #
    # Scale shape: the quantile_bucket_global pattern — one exact
    # percentile aggregate (7 thresholds, broadcast), map-side bucket
    # compare, one 8-key aggregate. No global sort, no single-task
    # window anywhere. At 100 TB swap percentile -> approx_percentile,
    # plan unchanged.
    oracle="""
    WITH n AS (
      SELECT doc_id,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> '')) AS n_tok
      FROM documents),
    th AS (SELECT quantile_cont(n_tok,
                    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q
           FROM n),
    b AS (
      SELECT n_tok,
             1 + CASE WHEN n_tok > q[1] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[2] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[3] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[4] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[5] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[6] THEN 1 ELSE 0 END
               + CASE WHEN n_tok > q[7] THEN 1 ELSE 0 END AS bucket
      FROM n, th)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT)
             AS padding_waste,
           ROUND((COUNT(*) * MAX(n_tok) - SUM(n_tok)) * 1.0 /
                 (COUNT(*) * MAX(n_tok)), 6) AS waste_ratio
    FROM b GROUP BY bucket
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n = d.select("doc_id", X.token_count("text").alias("n_tok"))
    th = n.agg(
        F.expr(
            "percentile(n_tok, array(0.125, 0.25, 0.375, 0.5,"
            " 0.625, 0.75, 0.875))"
        ).alias("q")
    )
    bucket = F.lit(1)
    for i in range(7):
        bucket = bucket + (F.col("n_tok") > F.col("q")[i]).cast("int")
    b = n.crossJoin(F.broadcast(th)).select(
        "n_tok", bucket.cast("int").alias("bucket")
    )
    waste = F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        waste.cast("long").alias("padding_waste"),
        F.round(
            waste * 1.0 / (F.count(F.lit(1)) * F.max("n_tok")), 6
        ).alias("waste_ratio"),
    )


# Funnel-stage CTE chain, shared between the funnel report's oracle and
# the terminal materialize capstone's (which appends two arms to it) so
# the two queries can never drift semantically.
_FUNNEL_ORACLE_WITH = """
    WITH n0 AS (
      SELECT doc_id, source,
             REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS fp,
             toks,
             LEN(toks) AS n_tok,
             LEN(list_filter(toks,
                 x -> list_contains(['the','a','of','and','to'], LOWER(x))))
               AS sw_hits,
             list_sum(list_transform(toks, x -> LENGTH(x))) AS tok_chars
      FROM (SELECT doc_id, source, text,
                   list_filter(string_split_regex(TRIM(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents)),
    s1 AS (
      SELECT * FROM n0
      WHERE n_tok >= 40
        AND tok_chars * 1.0 / GREATEST(n_tok, 1) >= 2.0
        AND tok_chars * 1.0 / GREATEST(n_tok, 1) <= 12.0),
    s2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM s1) WHERE rn = 1),
    s3 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
          AS srn
        FROM s2) WHERE srn <= 12),
    s4 AS (SELECT * FROM s3 WHERE sw_hits * 20 >= n_tok)
"""

_FUNNEL_ORACLE_ARMS = """
      SELECT 0 AS stage, 'raw' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS n_tokens FROM n0
      UNION ALL
      SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'source_cap', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      UNION ALL
      SELECT 4, 'stopword_evidence', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
"""


@query(
    "pipeline_corpus_funnel",
    # The curation FUNNEL report — the stage-by-stage docs/tokens table
    # every pipeline paper publishes (RefinedWeb/FineWeb style), as ONE
    # query over four chained stages:
    #   0 raw -> 1 quality (Gopher bands: >=40 tokens, mean word len
    #   2..12) -> 2 exact dedup (first-by-id per normalized text) ->
    #   3 per-source cap (lowest-id 12 docs/source, the C4-style
    #   rebalance) -> 4 stopword evidence (>=5% known-stopword tokens,
    #   integer cross-multiplied — the Gopher stopword rule).
    # Bands chosen so stages 1, 3, 4 all BITE on every sf fixture
    # (vacuous-parity is the kcore lesson); stage 2 is vacuous on the
    # duplicate-free sf fixtures by construction and bites hard on the
    # N-clone tier (scripts/scale_documents_tier.py in git history up
    # to e921ddb) plus a crafted pytest.
    # Every stage predicate is exact integer arithmetic or an identical
    # IEEE compare, so the whole funnel carries one value-hash oracle.
    #
    # Scale shape: ONE tokenizer pass feeds every stage (lazy
    # checkpoint, the bm25 discipline); stages 2 and 3 are each one
    # keyed window (fingerprint, source); the five stage rows aggregate
    # via a 5-branch union of count/sum pairs over frames that shrink
    # monotonically. No text column ever shuffles — the fingerprint is
    # the normalized text itself only WITHIN a hash-partitioned window
    # key, exactly the dedup_exact trade at fixture scale (production
    # swaps in the sha256 fingerprint; equality semantics identical).
    oracle=_FUNNEL_ORACLE_WITH
    + "SELECT stage, stage_name, n_docs, n_tokens FROM ("
    + _FUNNEL_ORACLE_ARMS
    + ")",
)
def pipeline_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = _funnel_frames(spark, sf_dir)
    out = _funnel_stage_row(0, "raw", frames[0])
    for stage, name, frame in [
        (1, "quality", frames[1]),
        (2, "exact_dedup", frames[2]),
        (3, "source_cap", frames[3]),
        (4, "stopword_evidence", frames[4]),
    ]:
        out = out.unionByName(_funnel_stage_row(stage, name, frame))
    return out


def _funnel_frames(spark: SparkSession, sf_dir: str):
    """The curation funnel's five stage frames (raw → quality → exact
    dedup → source cap → stopword evidence), shared by the report query
    and the terminal materialize capstone so both score the SAME
    semantics. ONE tokenizer pass feeds every stage (lazy checkpoint)."""
    n0 = _funnel_tokenized(t(spark, sf_dir, "documents"))
    return (n0, *_funnel_stages(n0))


def _funnel_tokenized(d: DataFrame) -> DataFrame:
    """The funnel's single tokenizer pass (stage-0 frame)."""
    toks = X.tokens("text")
    sw = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to"]])
    n0 = d.select(
        "doc_id",
        "source",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "fp"
        ),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(sw, F.lower(x)))
        ).cast("long").alias("sw_hits"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("tok_chars"),
    ).localCheckpoint(eager=False)
    return n0


def _funnel_quality(frame: DataFrame) -> DataFrame:
    # GREATEST(n_tok, 1): WHERE conjuncts evaluate in no guaranteed
    # order, so a zero-token doc must not hand either engine a zero
    # denominator before the n_tok band drops it (no-op for any doc
    # the band keeps).
    mwl = F.col("tok_chars") * 1.0 / F.greatest(F.col("n_tok"), F.lit(1))
    return frame.filter(
        (F.col("n_tok") >= 40) & (mwl >= 2.0) & (mwl <= 12.0)
    )


def _funnel_stages(n0: DataFrame):
    """Stages 1-4 over a tokenized stage-0 frame."""
    s1 = _funnel_quality(n0)
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    s2 = s1.withColumn("rn", F.row_number().over(w_fp)).filter(
        F.col("rn") == 1
    )
    w_src = Window.partitionBy("source").orderBy("doc_id")
    s3 = s2.withColumn("srn", F.row_number().over(w_src)).filter(
        F.col("srn") <= 12
    )
    s4 = s3.filter(F.col("sw_hits") * 20 >= F.col("n_tok"))
    return s1, s2, s3, s4


def _funnel_stage_row(stage: int, name: str, frame: DataFrame) -> DataFrame:
    return frame.agg(
        F.lit(stage).cast("int").alias("stage"),
        F.lit(name).alias("stage_name"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
    )


@query(
    "pipeline_corpus_materialize",
    # The TERMINAL curation capstone (VERDICT r7 item 4): the funnel
    # report composed with the write path, stitching the curation stack
    # to the table-management stack. The funnel's stage-4 survivor set
    # is materialized as a real keyed parquet table through the full
    # lifecycle — a deliberately STALE base snapshot (a third of the
    # survivors carry a wrong token count, a third are missing) is
    # repaired by merge_into_parquet (footer-stats file routing), the
    # merged table is rewritten Z-ordered on (doc_id, n_tok), compacted
    # to evenly-sized files, read BACK from disk, and reconciled
    # against the in-plan survivor frame with table_diff. The output is
    # the funnel report plus two terminal rows: stage 5 'materialized'
    # re-counts docs/tokens FROM THE FILES (the oracle pins it equal to
    # stage 4 — the round-trip-preserves-the-corpus claim), and stage 6
    # 'write_reconcile' is the diff row count (the oracle pins ZERO —
    # an empty reconciliation IS the green condition, so any merge,
    # layout, or compaction bug that drops/dups/mutates one row turns
    # the driver hash red).
    #
    # Scale shape: the write path inherits each operator's contract —
    # merge rewrites only files whose key range contains a changed key
    # (hard-links the rest), zorder is ONE range exchange, compaction
    # one more; the reconciliation diff shuffles (key, md5 digest)
    # pairs, never payloads. Non-vacuousness pinned in
    # tests/test_text.py: the merge must actually rewrite files, and a
    # tampered table must flip the diff row.
    oracle=_FUNNEL_ORACLE_WITH
    + "SELECT stage, stage_name, n_docs, n_tokens FROM ("
    + _FUNNEL_ORACLE_ARMS
    + """
      UNION ALL
      SELECT 5, 'materialized', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
      UNION ALL
      SELECT 6, 'write_reconcile', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    )""",
)
def pipeline_corpus_materialize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from cirro_annotation_spark.operators.layout import write_zordered
    from cirro_annotation_spark.operators.merge import (
        merge_into_parquet,
        table_diff,
    )

    frames = _funnel_frames(spark, sf_dir)
    survivors = frames[4].select("doc_id", "source", "n_tok")

    # Sweep prior runs' working trees (best effort) — scoped to THIS
    # Spark application's id so a concurrent session (parallel pytest
    # worker, bench alongside the driver) never loses a live tree
    # (ADVICE r8). The CURRENT run's tree must outlive this function
    # because the returned plan reads the compacted files lazily, so
    # within-app the leak is bounded at one run; atexit reclaims it.
    import atexit as _atexit
    import glob as _glob
    import shutil as _shutil

    prefix = f"corpus_materialize_{spark.sparkContext.applicationId}_"
    for old in _glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        _shutil.rmtree(old, ignore_errors=True)

    root = tempfile.mkdtemp(prefix=prefix)
    _atexit.register(_shutil.rmtree, root, ignore_errors=True)
    base_dir = os.path.join(root, "base")
    final_dir = os.path.join(root, "compacted")

    # Stale base snapshot: survivors with a wrong n_tok for doc_id%3==0
    # and the doc_id%3==1 rows missing — the merge must repair both.
    stale = (
        survivors.filter(F.col("doc_id") % 3 != 1)
        .withColumn(
            "n_tok",
            F.when(F.col("doc_id") % 3 == 0, F.lit(-1).cast("long")).otherwise(
                F.col("n_tok")
            ),
        )
        .repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id")
    )
    stale.write.mode("overwrite").parquet(base_dir)
    merge_into_parquet(spark, base_dir, survivors, key="doc_id")
    # Emit the COMPACTED layout directly from the z-order sort (VERDICT
    # r15 item 7, optimization r16): the z-order pass was immediately
    # followed by a compaction rewrite of the same data — two full
    # write+read cycles where one write suffices. The compaction-grade
    # file count (ceil(rows / 64), rows from the merged table's parquet
    # footers — the same driver-side manifest read compact_parquet
    # uses) is handed to write_zordered's range partitioner, so the
    # final files carry BOTH the even sizing the compaction contract
    # pins and min/max stats on both z-order dimensions.
    import math as _math

    import pyarrow.parquet as _pq

    n_rows = sum(
        _pq.ParquetFile(os.path.join(base_dir, f)).metadata.num_rows
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    )
    write_zordered(
        spark.read.parquet(base_dir),
        final_dir,
        ["doc_id", "n_tok"],
        num_files=max(1, _math.ceil(n_rows / 64)),
    )

    final = spark.read.parquet(final_dir)
    diff = table_diff(survivors, final, "doc_id", ["source", "n_tok"])

    out = _funnel_stage_row(0, "raw", frames[0])
    for stage, name, frame in [
        (1, "quality", frames[1]),
        (2, "exact_dedup", frames[2]),
        (3, "source_cap", frames[3]),
        (4, "stopword_evidence", frames[4]),
        (5, "materialized", final),
    ]:
        out = out.unionByName(_funnel_stage_row(stage, name, frame))
    return out.unionByName(
        diff.agg(
            F.lit(6).cast("int").alias("stage"),
            F.lit("write_reconcile").alias("stage_name"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_tokens"),
        )
    )


@query(
    "pipeline_dataset_card",
    # The DATASHEET the corpus ships with (Gebru et al. 2021,
    # "Datasheets for Datasets" — the per-source summary block): one
    # row per source with doc/token counts, language spread, the
    # dominant language (mode, deterministic min-lang tie), how many of
    # its docs exact-dedup away corpus-wide (first-wins by normalized
    # fingerprint — a doc is a dup if a LOWER-id doc anywhere in the
    # corpus shares its fp), and how many pass the funnel's quality
    # band. Every column is an integer or string — no float column, no
    # rounding surface at all; the hash is exact by construction.
    #
    # Scale shape: one tokenizer scan (shared lazy checkpoint), one
    # fp-keyed window (the dedup rank), one (source, lang) count + mode
    # window over the tiny per-source-lang frame, one final source
    # rollup. Text never shuffles — fp ranks move (fp, ids) only.
    oracle="""
    WITH n0 AS (
      SELECT doc_id, source, lang,
             REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS fp,
             LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> '')) AS n_tok,
             list_sum(list_transform(
                 list_filter(string_split_regex(TRIM(text), '\\s+'),
                             x -> x <> ''), x -> LENGTH(x))) AS tok_chars
      FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)
                 AS fp_rn FROM n0),
    lc AS (SELECT source, lang, COUNT(*) AS c FROM n0 GROUP BY source, lang),
    top AS (SELECT source, lang AS top_lang FROM (
              SELECT source, lang,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY c DESC, lang ASC) AS rn
              FROM lc) WHERE rn = 1),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(*) FILTER (WHERE fp_rn > 1) AS BIGINT) AS n_dup_docs,
             CAST(COUNT(*) FILTER (
               WHERE n_tok >= 40
                 AND tok_chars * 1.0 / GREATEST(n_tok, 1) >= 2.0
                 AND tok_chars * 1.0 / GREATEST(n_tok, 1) <= 12.0
             ) AS BIGINT) AS n_quality
      FROM r GROUP BY source)
    SELECT a.source, a.n_docs, a.n_tokens, a.n_langs, t.top_lang,
           a.n_dup_docs, a.n_quality
    FROM agg a JOIN top t USING (source)
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n0 = d.select(
        "doc_id",
        "source",
        "lang",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "fp"
        ),
        F.size(toks).cast("long").alias("n_tok"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("tok_chars"),
    ).localCheckpoint(eager=False)
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    r = n0.withColumn("fp_rn", F.row_number().over(w_fp))
    w_mode = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    top = (
        n0.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w_mode))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    mwl = F.col("tok_chars") * 1.0 / F.greatest(F.col("n_tok"), F.lit(1))
    agg = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum((F.col("fp_rn") > 1).cast("long")).alias("n_dup_docs"),
        F.sum(
            (
                (F.col("n_tok") >= 40) & (mwl >= 2.0) & (mwl <= 12.0)
            ).cast("long")
        ).alias("n_quality"),
    )
    return agg.join(F.broadcast(top), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "top_lang",
        "n_dup_docs",
        "n_quality",
    )


@query(
    "pipeline_funnel_incremental",
    # The MAINTENANCE path of the curation funnel — nightly-ingest
    # shape, mirroring pipeline_entity_resolution_incremental: the
    # standing corpus (doc_id <= 80% cutoff) has been curated already;
    # the new batch flows through quality per-doc, dedups against the
    # STANDING fingerprint set (an anti-join — at scale that set is a
    # stored table of fps, not a recompute) plus a within-batch
    # first-wins window, and fills each source's REMAINING cap quota
    # (12 minus the standing survivors' count, a broadcast-joined
    # n_sources-row frame). The report is the funnel over the union,
    # computed as standing + batch-delta per stage.
    #
    # Increment == recompute holds by the same monotone-id argument as
    # incremental ER: ids only grow, so (a) every standing first-wins
    # fp winner beats any batch row with that fp — batch survivors are
    # exactly the quality rows whose fp is unseen, then lowest-id within
    # batch; (b) the per-source lowest-12 of the union is the standing
    # lowest-12 plus batch rows filling leftover quota. So the ORACLE IS
    # THE FULL-RECOMPUTE FUNNEL'S, verbatim — the hash proves a 100 TB
    # corpus can curate a daily batch without re-tokenizing the
    # standing side (the only standing inputs are its fp set and its
    # per-source counts, both stored artifacts of yesterday's run).
    oracle=_FUNNEL_ORACLE_WITH
    + "SELECT stage, stage_name, n_docs, n_tokens FROM ("
    + _FUNNEL_ORACLE_ARMS
    + ")",
)
def pipeline_funnel_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cut = int(
        d.agg((F.max("doc_id") * 4 / 5).cast("long").alias("c")).first()["c"]
    )
    n0 = _funnel_tokenized(d)
    standing = n0.filter(F.col("doc_id") <= cut)
    batch = n0.filter(F.col("doc_id") > cut)
    s1_st, s2_st, s3_st, s4_st = _funnel_stages(standing)

    s1_b = _funnel_quality(batch)
    # dedup vs the standing fp set (stored artifact at scale), then
    # first-wins WITHIN the batch
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    s2_b = (
        s1_b.join(s2_st.select("fp"), "fp", "left_anti")
        .withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
    )
    # fill each source's remaining quota (cap 12 minus standing usage)
    used = s3_st.groupBy(F.col("source").alias("__src")).agg(
        F.count(F.lit(1)).alias("__used")
    )
    w_src = Window.partitionBy("source").orderBy("doc_id")
    s3_b = (
        s2_b.withColumn("srn", F.row_number().over(w_src))
        .join(F.broadcast(used), F.col("source") == F.col("__src"), "left")
        .filter(
            F.col("srn") + F.coalesce(F.col("__used"), F.lit(0)) <= 12
        )
    )
    s4_b = s3_b.filter(F.col("sw_hits") * 20 >= F.col("n_tok"))

    cols = ["doc_id", "source", "fp", "n_tok", "sw_hits"]
    out = _funnel_stage_row(0, "raw", n0)
    for stage, name, st, b in [
        (1, "quality", s1_st, s1_b),
        (2, "exact_dedup", s2_st, s2_b),
        (3, "source_cap", s3_st, s3_b),
        (4, "stopword_evidence", s4_st, s4_b),
    ]:
        union = st.select(*cols).unionByName(b.select(*cols))
        out = out.unionByName(_funnel_stage_row(stage, name, union))
    return out


@query(
    "text_lexical_diversity",
    # Type-token lexical diversity — the vocabulary-richness member of
    # the quality family (low TTR + high hapax collapse flags generated
    # or templated text; used alongside the Gopher bands and repetition
    # ratio): per doc, total tokens, distinct lowercased types, and
    # hapax legomena (types occurring exactly once). All integers — the
    # TTR itself is left to the consumer (derivable, and a float column
    # would only add a rounding surface).
    #
    # Scale shape: everything computes INSIDE the scan stage as
    # higher-order functions over the token array — zero shuffles, zero
    # explode; the corpus never leaves its input partitioning. Hapax is
    # LINEAR in doc length: sort the tokens once and count runs of
    # length 1 (an element differing from both sorted neighbors). The
    # first cut filtered the distinct array against the full token
    # array — O(types × tokens) per doc, a CPU blow-up on long
    # documents (review catch, round 8); the count is sort-order-
    # independent (equal elements are adjacent under ANY total order),
    # so engine collation differences cannot flip it.
    oracle=f"""
    WITH tk AS (SELECT doc_id, list_sort({_LT_SQL}) AS ls FROM documents)
    SELECT doc_id,
           CAST(LEN(ls) AS BIGINT) AS n_tokens,
           CAST(LEN(list_distinct(ls)) AS BIGINT) AS n_types,
           CAST(LEN(list_filter(ls, (x, i) ->
                (i = 1 OR ls[i - 1] <> x)
                AND (i = LEN(ls) OR ls[i + 1] <> x))) AS BIGINT)
             AS n_hapax
    FROM tk
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    lt = F.transform(X.tokens("text"), lambda x: F.lower(x))
    base = d.select("doc_id", F.array_sort(lt).alias("__ls"))
    s = F.col("__ls")

    def _is_hapax(x, i):
        # PySpark 2-arg HOF lambdas receive (element, 0-based index);
        # element_at is 1-based, so the predecessor of position i+1 is
        # element_at(s, i). CASE WHEN guards keep element_at off index 0.
        prev_diff = F.when(i == 0, F.lit(True)).otherwise(
            F.element_at(s, i.cast("int")) != x
        )
        next_diff = F.when(i == F.size(s) - 1, F.lit(True)).otherwise(
            F.element_at(s, (i + 2).cast("int")) != x
        )
        return prev_diff & next_diff

    return base.select(
        "doc_id",
        F.size("__ls").cast("long").alias("n_tokens"),
        F.size(F.array_distinct(s)).cast("long").alias("n_types"),
        F.size(F.filter(s, _is_hapax)).cast("long").alias("n_hapax"),
    )


def doremi_mw_loop(
    base: dict,
    rounds: int = 5,
    scale: int = 1_000_000,
    sk: int = 1_000_000_000_000,
    eta: int = 2_000_000,
) -> tuple[dict, dict]:
    """The exact-integer multiplicative-weights loop shared by the
    docs_doremi_weights query and its property tests: per round,
    reweight every domain by (sk + eta·excess)/sk against the current
    weighted-mean loss, renormalize to ``scale``, accumulate for the
    across-rounds average. Every division's dividend is positive by
    construction (asserted), keeping Python floor-`//` equal to
    DuckDB's truncating `//` on every intermediate."""
    domains = sorted(base)
    clip = sk // (2 * eta)  # |excess| cap: keeps factor >= sk/2 > 0
    w = {s: scale // len(domains) for s in domains}
    acc = {s: 0 for s in domains}
    for _ in range(rounds):
        wm = sum(w[s] * base[s] for s in domains) // scale
        raw = {}
        for s in domains:
            excess = min(max(base[s] - wm, -clip), clip)
            factor = sk + eta * excess
            assert factor > 0, "update factor must stay positive (// parity)"
            # floor at 1: a domain can shrink per-round but never hit
            # zero (dead weights would stay dead — DoReMi keeps every
            # domain sampleable)
            raw[s] = max((w[s] * factor) // sk, 1)
        tot = sum(raw.values())
        for s in domains:
            w[s] = max((raw[s] * scale) // tot, 1)
            acc[s] += w[s]
    return w, acc


def _doremi_oracle(rounds: int = 5) -> str:
    """Unrolled-CTE oracle for the DoReMi-style weight loop (the
    _perceptron_oracle pattern): each round is two CTEs — p{t} applies
    the multiplicative-weights update against the CURRENT weighted mean
    loss, r{t} renormalizes to SCALE and accumulates for the average.
    Every division's dividend is positive by construction (factor =
    SK + ETA*excess with |ETA*excess| << SK), so DuckDB's
    truncate-toward-zero `//` and Python's floor `//` agree on every
    intermediate."""
    scale, sk, eta = 1_000_000, 1_000_000_000_000, 2_000_000
    clip = sk // (2 * eta)
    ctes = [
        """base AS MATERIALIZED (
      SELECT source,
             CAST((1000 * (SUM(n_chars) +
                   SUM(COALESCE(LEN(regexp_extract_all(text, '\\S+')), 0))))
                  // COUNT(*) AS BIGINT) AS base
      FROM documents GROUP BY source)""",
        f"""r0 AS MATERIALIZED (
      SELECT source, base,
             CAST({scale} // (SELECT COUNT(*) FROM base) AS BIGINT) AS w,
             CAST(0 AS BIGINT) AS acc
      FROM base)""",
    ]
    for t in range(1, rounds + 1):
        prev = f"r{t - 1}"
        ctes.append(f"""p{t} AS MATERIALIZED (
      SELECT source, base, acc,
             GREATEST(CAST((w * ({sk} + {eta} *
                   LEAST(GREATEST(base -
                         (SELECT SUM(w * base) FROM {prev}) // {scale},
                         -{clip}), {clip})))
                  // {sk} AS BIGINT), 1) AS raw
      FROM {prev})""")
        ctes.append(f"""r{t} AS MATERIALIZED (
      SELECT source, base,
             GREATEST(CAST((raw * {scale}) // (SELECT SUM(raw) FROM p{t})
                      AS BIGINT), 1) AS w,
             acc + GREATEST(CAST((raw * {scale}) //
                            (SELECT SUM(raw) FROM p{t}) AS BIGINT), 1) AS acc
      FROM p{t})""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT source, w AS w_final, CAST(acc // {rounds} AS BIGINT) AS w_avg
    FROM r{rounds}"""
    )


@query(
    "docs_doremi_weights",
    # DoReMi-style domain-weight training (Xie et al. 2023,
    # arXiv:2305.10429): multiplicative-weights ascent on per-domain
    # EXCESS loss — each round reweights every domain by how far its
    # loss sits above the current weight-averaged loss, then
    # renormalizes; the published recipe's final mixture is the
    # AVERAGE weight across rounds, reported here alongside the final
    # round's. The trainer sibling of docs_dsir_weights (importance
    # weights) and docs_classifier_train_perceptron (quality labels):
    # closing the sampling-artifact lifecycle train -> mixture ->
    # sample (sample_mixture_weighted consumes exactly this shape).
    #
    # Exact-integer fixed point (the operators/clustering.py trainer
    # discipline): domain loss = scaled mean (chars + tokens) per doc,
    # weights live at SCALE=1e6, the update factor is SK + ETA*excess
    # (positive by construction so DuckDB truncating `//` == Python
    # floor `//` on every division), all BIGINT — zero float surface,
    # so the 5-round loop is hash-checkable against the unrolled-CTE
    # oracle.
    #
    # Scale shape: ONE map-side-combined aggregate over the corpus
    # (per-domain doc/char/token sums — the only data-sized term);
    # the loop itself is driver arithmetic over the ~|domains|-row
    # collected frame (bounded model state, like kmeans centroids).
    # At 100 TB the scan dominates and the loop cost is unchanged.
    oracle=_doremi_oracle(),
)
def docs_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    SCALE, SK, ETA, ROUNDS = 1_000_000, 1_000_000_000_000, 2_000_000, 5
    d = t(spark, sf_dir, "documents")
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(
                F.coalesce(
                    F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(0)
                )
            )
            .cast("long")
            .alias("sum_tok"),
        )
        .collect()
    )  # bounded model state: one row per domain
    base = {
        r["source"]: (1000 * (r["sum_chars"] + r["sum_tok"])) // r["n_docs"]
        for r in per
    }
    w, acc = doremi_mw_loop(base, rounds=ROUNDS, scale=SCALE, sk=SK, eta=ETA)
    rows = [(s, w[s], acc[s] // ROUNDS) for s in sorted(base)]
    return spark.createDataFrame(
        rows, "source string, w_final long, w_avg long"
    )


@query("docs_dup_span_sa", oracle=_DUP_SPAN_ORACLE)
def docs_dup_span_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_dup_span_coverage computed through the DISTRIBUTED
    SUFFIX-ARRAY path (VERDICT r8 item 7a): prefix-doubled dense ranks
    (operators/suffixarray.py, Manber-Myers doubling) instead of
    shingle strings — after the one vocabulary shuffle, every doubling
    round moves only (doc_id, pos, int, int) rows, so the shuffle
    width is CONSTANT in the span threshold where the shingle path
    grows linearly with it. Rank equality is exact token-sequence
    equality (no hashing anywhere), which is why this query can share
    docs_dup_span_coverage's oracle verbatim: the driver hash match IS
    the span-parity proof between the two formulations, pinning the
    suffix-array interior (vocab rank, three doubling rounds, the
    sentinel convention, in-range filtering) end to end.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    W = 8
    # Pair each token with its successor SCAN-LOCALLY (array shift +
    # zip — no join, no window): prefix_doubled_window_ranks fuses its
    # vocabulary round into the first doubling round when tok2 is
    # present, saving one full global_rank round over the position
    # table (optimization r16, VERDICT r15 item 5).
    nxt = F.expr(
        "concat(slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "array(cast(null as string)))"
    )
    tokens = base.filter(F.col("n_tokens") >= W).select(
        "doc_id",
        "n_tokens",
        F.posexplode(F.arrays_zip("toks", nxt.alias("nxt"))).alias(
            "pos0", "z"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("pos0") + 1).alias("pos"),
        F.col("z.toks").alias("tok"),
        F.col("z.nxt").alias("tok2"),
    )
    dup_pos = SA.duplicated_window_positions(tokens, W)
    cov = (
        dup_pos.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias(
                "p"
            ),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered_tokens"))
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_coverage"),
    )


@query(
    "text_collocations_pmi",
    # Collocation / phrase mining (round 10): corpus-wide top-20 token
    # bigrams by pointwise mutual information with a min-count floor —
    # the classic phrase-detection pass (Church & Hanks 1990; the
    # word2vec phrase pre-pass uses the same statistic). PMI
    # = ln(p(xy) / (p(x)p(y))) is computed as ONE ln over a single
    # left-associated double chain of integer counts
    # ((((n_pair*1.0)*nuni)*nuni)/nbi)/cx/cy — every step is an
    # exactly-rounded IEEE op on identical operands in identical order,
    # so both engines see the same double and ln agrees (the
    # docs_unigram_perplexity 6dp-log precedent); signed-round +0
    # guard on the oracle side since PMI can be negative.
    #
    # Scale shape: bigrams/unigrams shuffle as (token) keyed counts —
    # text itself never shuffles; the two totals are a broadcast 1-row
    # frame; uni-count joins are broadcast at any realistic vocabulary.
    # Output is top-20 whatever the corpus size (rank on the ROUNDED
    # grain + count + lexical tie-breaks — never raw-float order).
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
    u AS (SELECT unnest(l) AS w FROM toks),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
    b AS (SELECT unnest(list_transform(range(1, len(l)),
                        i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
          FROM toks),
    bc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
           FROM b GROUP BY 1, 2),
    tot AS (SELECT (SELECT SUM(c) FROM uc) AS nuni,
                   (SELECT SUM(n_pair) FROM bc) AS nbi),
    scored AS (
      SELECT w1, w2, n_pair,
             ROUND(LN(n_pair * 1.0 * nuni * nuni / nbi / c1.c / c2.c), 6) + 0
               AS pmi
      FROM bc
      JOIN uc c1 ON bc.w1 = c1.w
      JOIN uc c2 ON bc.w2 = c2.w
      CROSS JOIN tot
      WHERE n_pair >= 5
    )
    SELECT w1, w2, n_pair, pmi, pair_rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, n_pair DESC,
                                   w1 ASC, w2 ASC) AS pair_rank
      FROM scored
    ) r WHERE pair_rank <= 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("l")
    )
    uc = (
        d.select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.struct(
            F.element_at("l", i).alias("w1"),
            F.element_at("l", i + 1).alias("w2"),
        ),
    )
    bc = (
        d.filter(F.size("l") >= 2)
        .select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    tot = uc.agg(F.sum("c").alias("nuni")).crossJoin(
        bc.agg(F.sum("n_pair").alias("nbi"))
    )
    c1 = uc.toDF("w", "c")
    scored = (
        bc.filter(F.col("n_pair") >= 5)
        .join(F.broadcast(c1), F.col("w1") == c1["w"])
        .drop("w")
        .withColumnRenamed("c", "cx")
        .join(F.broadcast(uc), F.col("w2") == uc["w"])
        .drop("w")
        .withColumnRenamed("c", "cy")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair") * 1.0
                    * F.col("nuni")
                    * F.col("nuni")
                    / F.col("nbi")
                    / F.col("cx")
                    / F.col("cy")
                ),
                6,
            ).alias("pmi"),
        )
    )
    order = [
        F.col("pmi").desc(),
        F.col("n_pair").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    # TakeOrderedAndProject first; rank the 20 survivors only
    top = scored.orderBy(*order).limit(20)
    w_rank = Window.orderBy(*order)
    return top.withColumn("pair_rank", F.row_number().over(w_rank)).select(
        "w1", "w2", "n_pair", "pmi", "pair_rank"
    )


@query(
    "text_rake_keyphrases",
    # RAKE keyphrase extraction (round 10; Rose et al. 2010): candidate
    # phrases are maximal stopword-free token runs; each word scores
    # degree/frequency (degree = sum of containing-phrase lengths,
    # counted per occurrence); a phrase scores the sum of its word
    # scores. Word scores are EXACT INTEGERS at 1e9 scale via BIGINT
    # floor division (deg*1e9 // freq) so the phrase score is a sum of
    # BIGINTs — associative and hash-stable where the textbook
    # sum-of-rationals would drift with accumulation order.
    #
    # The two engines take deliberately DIFFERENT phrase-extraction
    # paths that must agree exactly: Spark folds each token array
    # scan-locally with ONE codegen'd F.aggregate (state = phrases so
    # far + current run — no posexplode, no shuffle of tokens; text
    # never leaves the scan), while the oracle does the classic SQL
    # gaps-and-islands (i - row_number() grouping). Stopword set is
    # the engine's EN list (operators/text.py STOPWORDS).
    #
    # Scale shape: phrase strings (short) shuffle for the two counts;
    # the word-score frame is vocabulary-sized and broadcasts; output
    # is top-15 however big the corpus, ranked on integers only.
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
    tok AS (SELECT doc_id, i, l[i] AS w
            FROM toks, unnest(range(1, len(l) + 1)) AS r(i)),
    isl AS (SELECT doc_id, i, w,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY i) AS grp
            FROM tok WHERE w NOT IN ('the', 'a', 'of', 'and', 'to')),
    phr AS (SELECT doc_id, grp,
                   string_agg(w, ' ' ORDER BY i) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS n_words
            FROM isl GROUP BY doc_id, grp),
    pw AS (SELECT phrase, n_words,
                  unnest(string_split(phrase, ' ')) AS w
           FROM phr),
    ws AS (SELECT w,
                  CAST((SUM(n_words) * 1000000000) // COUNT(*) AS BIGINT)
                    AS wscore
           FROM pw GROUP BY w),
    pd AS (SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occur
           FROM phr GROUP BY 1, 2),
    ps AS (SELECT u.phrase, CAST(SUM(ws.wscore) AS BIGINT) AS score
           FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
                 FROM pd) u
           JOIN ws ON ws.w = u.w
           GROUP BY u.phrase)
    SELECT phrase, n_words, n_occur, score, phrase_rank FROM (
      SELECT pd.phrase, pd.n_words, pd.n_occur, ps.score,
             ROW_NUMBER() OVER (ORDER BY ps.score DESC, pd.n_occur DESC,
                                pd.phrase ASC) AS phrase_rank
      FROM pd JOIN ps ON ps.phrase = pd.phrase
    ) r WHERE phrase_rank <= 15
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    stops = X.STOPWORDS["en"]
    d = t(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("l")
    )
    init = F.struct(
        F.array().cast("array<string>").alias("ph"),
        F.lit("").alias("cur"),
    )

    def step(acc, x):
        is_stop = x.isin(*stops)
        return F.struct(
            F.when(
                is_stop & (acc["cur"] != ""),
                F.concat(acc["ph"], F.array(acc["cur"])),
            )
            .otherwise(acc["ph"])
            .alias("ph"),
            F.when(is_stop, F.lit(""))
            .otherwise(
                F.when(acc["cur"] == "", x).otherwise(
                    F.concat_ws(" ", acc["cur"], x)
                )
            )
            .alias("cur"),
        )

    def finish(acc):
        return F.when(
            acc["cur"] != "", F.concat(acc["ph"], F.array(acc["cur"]))
        ).otherwise(acc["ph"])

    phr = d.select(
        F.explode(F.aggregate("l", init, step, finish)).alias("phrase")
    ).select("phrase", F.size(F.split("phrase", " ")).cast("long").alias("n_words"))
    pw = phr.select(
        "n_words", F.explode(F.split("phrase", " ")).alias("w")
    )
    ws = pw.groupBy("w").agg(
        F.expr("(sum(n_words) * 1000000000L) div count(1)").alias("wscore")
    )
    pd_ = phr.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_occur")
    )
    ps = (
        pd_.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(F.broadcast(ws), "w")
        .groupBy("phrase")
        .agg(F.sum("wscore").alias("score"))
    )
    order = [
        F.col("score").desc(), F.col("n_occur").desc(), F.col("phrase").asc()
    ]
    top = pd_.join(ps, "phrase").orderBy(*order).limit(15)
    w_rank = Window.orderBy(*order)
    return top.withColumn("phrase_rank", F.row_number().over(w_rank)).select(
        "phrase", "n_words", "n_occur", "score", "phrase_rank"
    )


# Shared Kneser-Ney scored-bigram CTE chain: every corpus bigram with
# its exact-integer interpolated-KN probability in ppb. Consumed by
# text_kn_bigram_lm (top-20 report) and docs_kn_perplexity (per-doc
# scoring) — one definition, two queries, the hash pins both to it.
_KN_SCORED_CTE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
    b AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(l)),
                        i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
          FROM toks),
    bc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM b GROUP BY 1, 2),
    h AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                 CAST(COUNT(*) AS BIGINT) AS n1_hist
          FROM bc GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_cont
             FROM bc GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bc),
    scored AS (
      SELECT bc.w1, bc.w2, bc.c12,
             (GREATEST(4 * bc.c12 - 3, 0) * 1000000000) // (4 * h.c1)
             + (3 * h.n1_hist * cont.n1_cont * 1000000000)
               // (4 * h.c1 * tot.t) AS p_kn_ppb
      FROM bc
      JOIN h ON h.w1 = bc.w1
      JOIN cont ON cont.w2 = bc.w2
      CROSS JOIN tot)
"""


def _kn_scored(spark: SparkSession, sf_dir: str):
    """(per-doc bigram frame, scored KN bigram frame) — the Spark twin
    of _KN_SCORED_CTE; both KN queries build on these."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("l")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.struct(
            F.element_at("l", i).alias("w1"),
            F.element_at("l", i + 1).alias("w2"),
        ),
    )
    doc_bi = (
        d.filter(F.size("l") >= 2)
        .select("doc_id", F.explode(bigrams).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = doc_bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    h = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1_hist"),
    ).toDF("hw1", "c1", "n1_hist")
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1_cont")
    ).toDF("cw2", "n1_cont")
    tot = bc.agg(F.count(F.lit(1)).cast("long").alias("t"))
    scored = (
        bc.join(F.broadcast(h), F.col("w1") == F.col("hw1"))
        .join(F.broadcast(cont), F.col("w2") == F.col("cw2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                "(greatest(4 * c12 - 3, 0L) * 1000000000L) div (4 * c1)"
                " + (3 * n1_hist * n1_cont * 1000000000L)"
                " div (4 * c1 * t)"
            ).alias("p_kn_ppb"),
        )
    )
    return doc_bi, scored


@query(
    "text_kn_bigram_lm",
    # Interpolated Kneser-Ney bigram LM (round 10; Kneser & Ney 1995,
    # Chen & Goodman 1998) — the SMOOTHED member of the LM family
    # beside docs_unigram_perplexity (MLE) and docs_ccnet_buckets
    # (routing): P(w2|w1) = max(c12-D,0)/c1 + D*N1+(w1.)/c1 *
    # N1+(.w2)/T with D=3/4, reported for the corpus's top-20 bigrams.
    # With D rational, BOTH terms are integer ratios: each is floored
    # separately at 1e9 scale via BIGINT `div` (two-stage flooring
    # keeps every product under 2^63 — the single-fraction
    # cross-multiplied form would overflow once c12*T passes 2.3e9;
    # bound documented for |V| <= 55k, beyond which drop the scale).
    # Zero float surface; the probability column is exact ppb.
    #
    # Scale shape: ALL statistics derive from the one (w1,w2) count
    # frame — histories, continuation types, and the type total are
    # three tiny vocabulary-sized reaggregations of it (broadcast
    # joins); the corpus is scanned once and text never shuffles.
    oracle=_KN_SCORED_CTE
    + """
    SELECT w1, w2, c12, p_kn_ppb, pair_rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p_kn_ppb DESC, c12 DESC,
                                   w1 ASC, w2 ASC) AS pair_rank
      FROM scored
    ) r WHERE pair_rank <= 20
    """,
)
def text_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, scored = _kn_scored(spark, sf_dir)
    order = [
        F.col("p_kn_ppb").desc(),
        F.col("c12").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    top = scored.orderBy(*order).limit(20)
    w_rank = Window.orderBy(*order)
    return top.withColumn("pair_rank", F.row_number().over(w_rank)).select(
        "w1", "w2", "c12", "p_kn_ppb", "pair_rank"
    )


def _nb_langid_oracle() -> str:
    """Char-unigram NB oracle, generated over the 26 letters (the
    _doremi_oracle generated-SQL precedent)."""
    letters = [chr(c) for c in range(97, 123)]
    cnt = ", ".join(
        f"LENGTH(text) - LENGTH(REPLACE(text, '{ch}', ''))" for ch in letters
    )
    sums = ", ".join(f"CAST(SUM(cnt[{i + 1}]) AS BIGINT)" for i in range(26))
    return f"""
    WITH per AS (
      SELECT doc_id, lang, [{cnt}] AS cnt FROM documents),
    agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, [{sums}] AS tc
      FROM per GROUP BY lang),
    model AS (
      SELECT lang, n_docs,
             CAST(FLOOR(LN(n_docs * 1.0 /
                           (SELECT SUM(n_docs) FROM agg)) * 1000000)
                  AS BIGINT) AS lprior,
             list_transform(tc, x ->
               CAST(FLOOR(LN((x + 1) * 1.0 /
                             (list_aggregate(tc, 'sum') + 26)) * 1000000)
                    AS BIGINT)) AS llik
      FROM agg),
    scores AS (
      SELECT per.doc_id, per.lang AS true_lang, model.lang AS cand,
             model.lprior + CAST(list_aggregate(
               list_transform(range(1, 27),
                              i -> per.cnt[i] * model.llik[i]),
               'sum') AS BIGINT) AS score
      FROM per CROSS JOIN model),
    pred AS (
      SELECT doc_id, true_lang, cand AS predicted
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, cand ASC) AS rn FROM scores) r
      WHERE rn = 1)
    SELECT true_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """


@query(
    "text_langid_train_nb",
    # In-engine Naive Bayes language-ID TRAINER (round 10) — the
    # generative-model member of the trainer family beside the
    # perceptron (discriminative) and kmeans/PQ/RQ (quantizers):
    # char-unigram NB with add-one smoothing, trained on the labeled
    # corpus and evaluated in the same query as a train-set confusion
    # matrix. Letter counts are 26 scan-local translate expressions
    # (no tokenization, no explode); log-likelihoods and priors are
    # FLOORED to integer micro-logs (floor of an identical IEEE double
    # is exact across engines — no ROUND half-boundary), so each doc's
    # class score is a BIGINT dot product: associative, hash-stable.
    #
    # Scale shape: training is ONE map-side-combined aggregate to a
    # |langs| x 26 model frame (bounded driver/model state, the kmeans
    # centroid discipline); scoring crossJoins the broadcast model and
    # folds zip_with products inside the scan. Output is the |langs|^2
    # confusion matrix however big the corpus.
    oracle=_nb_langid_oracle(),
)
def text_langid_train_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    letters = [chr(c) for c in range(97, 123)]
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.array(
            *[
                (
                    F.length("text")
                    - F.length(F.translate(F.col("text"), ch, ""))
                ).cast("long")
                for ch in letters
            ]
        ).alias("cnt"),
    )
    # The 26-translate pass feeds BOTH the trainer aggregate and the
    # scoring crossJoin; without this lazy checkpoint the corpus is
    # re-tokenized once per consumer (7.9 -> 2.5 s at sf0.1 — the
    # pipeline_corpus_funnel one-scan discipline).
    d = d.localCheckpoint(eager=False)
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array(
            *[F.sum(F.element_at("cnt", i + 1)).alias(f"s{i}") for i in range(26)]
        ).alias("tc"),
    )
    total_docs = agg.agg(F.sum("n_docs").alias("all_docs"))
    model = agg.crossJoin(F.broadcast(total_docs)).select(
        F.col("lang").alias("cand"),
        F.floor(
            F.log(F.col("n_docs") * 1.0 / F.col("all_docs")) * 1_000_000
        )
        .cast("long")
        .alias("lprior"),
        F.transform(
            "tc",
            lambda x: F.floor(
                F.log(
                    (x + 1)
                    * 1.0
                    / (F.aggregate("tc", F.lit(0).cast("long"), lambda a, b: a + b) + 26)
                )
                * 1_000_000
            ).cast("long"),
        ).alias("llik"),
    )
    scores = d.crossJoin(F.broadcast(model)).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        "cand",
        (
            F.col("lprior")
            + F.aggregate(
                F.zip_with("cnt", "llik", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("predicted"))
    )
    return pred.groupBy("true_lang", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query(
    "docs_kn_perplexity",
    # The KN model's CONSUMER (round 10) — train -> score in one query,
    # closing the LM lifecycle the way kmeans->IVF and perceptron->
    # classifier do: every doc scored under the corpus's interpolated-
    # KN bigram model (the CCNet §4.4 filter shape, with a smoothed LM
    # instead of docs_unigram_perplexity's MLE — smoothing is what
    # keeps rare-but-valid continuations from dominating the NLL).
    # Per-bigram NLL = floor(-ln(p_ppb/1e9)*1e6) — floor of an
    # identical IEEE double, exact across engines; p is clamped to
    # >= 1 ppb because at extreme corpus scales both floored KN terms
    # can quantize to zero and ln(0) would -inf. Doc scores are
    # BIGINT sums of micro-NLLs — associative, hash-stable; the
    # per-bigram mean uses BIGINT floor division.
    #
    # Scale shape: the model is trained once from the shared bigram
    # frame (vocabulary-sized); scoring is ONE (w1,w2)-keyed join of
    # doc bigrams against the scored model — fingerprint-width rows,
    # text never shuffles.
    oracle=_KN_SCORED_CTE
    + """
    , nl AS (SELECT w1, w2,
                    CAST(FLOOR(-LN(GREATEST(p_kn_ppb, 1) * 1.0
                                   / 1000000000) * 1000000) AS BIGINT)
                      AS nll_micro
             FROM scored),
    db AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM b)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro_sum,
           CAST(SUM(nll_micro) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM db JOIN nl ON nl.w1 = db.w1 AND nl.w2 = db.w2
    GROUP BY doc_id
    """,
)
def docs_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc_bi, scored = _kn_scored(spark, sf_dir)
    nl = scored.select(
        F.col("w1").alias("nw1"),
        F.col("w2").alias("nw2"),
        F.floor(
            -F.log(
                F.greatest(F.col("p_kn_ppb"), F.lit(1).cast("long"))
                * 1.0
                / 1_000_000_000
            )
            * 1_000_000
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return (
        doc_bi.join(
            nl,
            (F.col("w1") == F.col("nw1")) & (F.col("w2") == F.col("nw2")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll_micro").alias("nll_micro_sum"),
            F.expr("sum(nll_micro) div count(1)").alias("avg_nll_micro"),
        )
    )


@query(
    "sample_temperature_mixture",
    # Temperature-scaled mixture sampling (round 10; the T=2 source-
    # rebalancing rule of multilingual LM training, e.g. mT5 §3.1:
    # sample probability proportional to n^(1/T)) — completing the
    # mixture family: fixed weights (sample_mixture_weighted), UniMax
    # budgets, DSIR/DoReMi learned weights, and now the temperature
    # knob. n^(1/2) = sqrt is EXACTLY ROUNDED by IEEE-754, so
    # floor(sqrt(n)*1e6) is the identical BIGINT in both engines — the
    # only float op in the query is one guaranteed-exact sqrt; every
    # share, target, and acceptance gate is then cross-multiplied
    # BIGINT arithmetic (the sample_mixture_weighted discipline: no
    # float rate, no rounding knife-edge).
    #
    # Scale shape: one (source) count aggregate, a broadcast totals
    # frame, a scan-local md5 acceptance gate; the corpus itself never
    # shuffles. Output is the |sources|-row allocation report.
    oracle="""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      GROUP BY source),
    sc AS (
      SELECT source, n,
             CAST(FLOOR(SQRT(n) * 1000000) AS BIGINT) AS s FROM per),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(s) AS BIGINT) AS ssum FROM sc),
    alloc AS (
      SELECT source, n, s,
             ((tot.total // 2) * s) // tot.ssum AS target_docs
      FROM sc CROSS JOIN tot),
    hits AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_accepted
      FROM documents d JOIN alloc a USING (source)
      WHERE (CAST(('0x' || SUBSTRING(md5('temp|' ||
                 CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10000)
            * a.n < a.target_docs * 10000
      GROUP BY d.source)
    SELECT a.source, a.n AS n_docs, a.s AS sqrt_micro, a.target_docs,
           COALESCE(h.n_accepted, 0) AS n_accepted
    FROM alloc a LEFT JOIN hits h ON h.source = a.source
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sc = per.select(
        "source",
        "n",
        F.floor(F.sqrt(F.col("n")) * 1_000_000).cast("long").alias("s"),
    )
    tot = sc.agg(
        F.sum("n").alias("total"), F.sum("s").alias("ssum")
    )
    alloc = sc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "s",
        F.expr("((total div 2L) * s) div ssum").alias("target_docs"),
    )
    a = alloc.toDF("asrc", "n", "s", "target_docs")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp|"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    hits = (
        d.join(F.broadcast(a), d["source"] == a["asrc"])
        .filter(bucket * F.col("n") < F.col("target_docs") * 10000)
        .groupBy("asrc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_accepted"))
    )
    return (
        alloc.join(hits, alloc["source"] == hits["asrc"], "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("s").alias("sqrt_micro"),
            "target_docs",
            F.coalesce("n_accepted", F.lit(0).cast("long")).alias(
                "n_accepted"
            ),
        )
    )


@query(
    "pipeline_curriculum_order",
    # Curriculum construction (round 10; Bengio 2009 curriculum
    # learning, the length-ordered variant): rank docs easiest-first
    # (shorter = easier proxy) WITHIN each source, then interleave
    # sources round-robin so every training window sees the full
    # mixture — the deterministic ordering a curriculum dataloader
    # consumes. curriculum_pos = (rank-1)*|sources| + source_index is
    # pure integer arithmetic; the source index is the dense rank of
    # the source name (stable, data-independent ordering).
    #
    # Scale shape: one source-keyed rank window (the per-source-cap
    # shape) + a broadcast |sources|-row index; no global sort — the
    # position is COMPUTED, not sorted into place.
    oracle="""
    WITH src AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source ASC) - 1 AS src_idx,
             CAST(COUNT(*) AS BIGINT) AS src_docs
      FROM documents GROUP BY source),
    nsrc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM src),
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars ASC, doc_id ASC)
               AS difficulty_rank
      FROM documents)
    SELECT r.doc_id, r.source,
           CAST(r.difficulty_rank AS BIGINT) AS difficulty_rank,
           CAST((r.difficulty_rank - 1) * nsrc.k + src.src_idx AS BIGINT)
             AS curriculum_pos
    FROM ranked r JOIN src ON src.source = r.source CROSS JOIN nsrc
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    src = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("src_docs"))
        .select(
            F.col("source").alias("s2"),
            (
                F.row_number().over(Window.orderBy(F.col("source").asc())) - 1
            ).alias("src_idx"),
        )
    )
    nsrc = src.agg(F.count(F.lit(1)).cast("long").alias("k"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    ranked = d.select(
        "doc_id", "source", "n_chars"
    ).withColumn("difficulty_rank", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(src), F.col("source") == F.col("s2"))
        .crossJoin(F.broadcast(nsrc))
        .select(
            "doc_id",
            "source",
            F.col("difficulty_rank").cast("long").alias("difficulty_rank"),
            ((F.col("difficulty_rank") - 1) * F.col("k") + F.col("src_idx"))
            .cast("long")
            .alias("curriculum_pos"),
        )
    )


@query(
    "docs_readability_flesch",
    # Flesch reading-ease (round 10) — the READABILITY member of the
    # quality family (Gopher rules gate structure, CCNet gates LM
    # perplexity; Flesch is the classic human-readability score):
    # 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
    # computed entirely in exact integer MICRO-units (two BIGINT
    # cross-multiplied divs — no float in the formula), with greedy
    # regex-group counting for sentences ([.!?]+ runs), words ([a-z]+
    # runs), and syllables (vowel-group runs [aeiouy]+ — the standard
    # cheap approximation), all of which count identically in Java and
    # RE2 for patterns without lazy quantifiers (the CEP probe). The
    # report buckets docs into the standard bands; one scan, one
    # bounded rollup.
    oracle="""
    WITH f AS (
      SELECT doc_id,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                           AS BIGINT), 1) AS sents,
             GREATEST(CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                           AS BIGINT), 1) AS words,
             GREATEST(CAST(len(regexp_extract_all(lower(text),
                                                  '[aeiouy]+'))
                           AS BIGINT), 1) AS syls
      FROM documents),
    s AS (
      SELECT doc_id,
             206835000 - (1015000 * words) // sents
                       - (84600000 * syls) // words AS flesch_micro
      FROM f),
    b AS (
      SELECT doc_id, flesch_micro,
             CASE WHEN flesch_micro >= 70000000 THEN 'easy'
                  WHEN flesch_micro >= 50000000 THEN 'standard'
                  WHEN flesch_micro >= 30000000 THEN 'difficult'
                  ELSE 'very_difficult' END AS band
      FROM s)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(flesch_micro) AS BIGINT)
             // CAST(COUNT(*) AS BIGINT) AS avg_flesch_micro,
           CAST(MIN(flesch_micro) AS BIGINT) AS min_flesch_micro,
           CAST(MAX(flesch_micro) AS BIGINT) AS max_flesch_micro
    FROM b GROUP BY band
    """,
)
def docs_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast(
                "long"
            ),
            F.lit(1).cast("long"),
        ).alias("sents"),
        F.greatest(
            F.size(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("words"),
        F.greatest(
            F.size(
                F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("syls"),
    )
    s = f.select(
        "doc_id",
        F.expr(
            "206835000L - (1015000L * words) div sents"
            " - (84600000L * syls) div words"
        ).alias("flesch_micro"),
    )
    b = s.withColumn(
        "band",
        F.when(F.col("flesch_micro") >= 70_000_000, "easy")
        .when(F.col("flesch_micro") >= 50_000_000, "standard")
        .when(F.col("flesch_micro") >= 30_000_000, "difficult")
        .otherwise("very_difficult"),
    )
    return b.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(SUM(flesch_micro) AS BIGINT)"
            " div CAST(COUNT(*) AS BIGINT)"
        ).alias("avg_flesch_micro"),
        F.min("flesch_micro").alias("min_flesch_micro"),
        F.max("flesch_micro").alias("max_flesch_micro"),
    )


# ROUGE shares dedup's frozen candidate fixture so the Jaccard and
# ROUGE overlap families are computed over the SAME pair list.
from cirro_annotation_spark.suites.dedup import _GOLDEN_CANDIDATES as _ROUGE_PAIRS  # noqa: E402

_ROUGE_CAND_VALUES = ", ".join(f"({a}, {b})" for a, b in _ROUGE_PAIRS)


@query(
    "text_rouge_pairs",
    # ROUGE-N on the pinned near-duplicate candidate pairs — the
    # n-gram-overlap evaluation metric (Lin 2004) every summarization /
    # decontamination pipeline reports, computed as pure integer
    # algebra: clipped overlap = sum over shared grams of
    # min(count_a, count_b); F1 = 2*ov/(la+lb) exactly (the harmonic
    # mean of ov/la and ov/lb), emitted as ppm by integer division.
    # The pair list is suites/dedup.py's _GOLDEN_CANDIDATES (the same
    # frozen fixture dedup_minhash_verify hash-checks Jaccard on), so
    # the two overlap families are directly comparable. Zero-overlap
    # (pair, n) combinations drop out on both engines (inner join on
    # shared grams). Scale: gram counts are a per-doc scan-local
    # aggregate; only the 26 pinned docs' grams ever join.
    oracle=f"""
    WITH cand(id_a, id_b) AS (VALUES {_ROUGE_CAND_VALUES}),
    docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
      WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    ),
    uni AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS n, tok AS gram
      FROM docs, unnest(toks) AS u(tok)
    ),
    bi AS (
      SELECT doc_id, CAST(2 AS BIGINT) AS n,
             toks[i] || ' ' || toks[i + 1] AS gram
      FROM docs, unnest(range(1, GREATEST(len(toks), 1))) AS r(i)
    ),
    grams AS (
      SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) g
      GROUP BY doc_id, n, gram
    ),
    lens AS (
      SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS len
      FROM grams GROUP BY doc_id, n
    ),
    ov AS (
      SELECT c.id_a, c.id_b, a.n,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS overlap
      FROM cand c
      JOIN grams a ON a.doc_id = c.id_a
      JOIN grams b ON b.doc_id = c.id_b AND b.n = a.n AND b.gram = a.gram
      GROUP BY c.id_a, c.id_b, a.n
    )
    SELECT o.id_a, o.id_b, o.n, o.overlap,
           la.len AS len_a, lb.len AS len_b,
           (2 * o.overlap * 1000000) // (la.len + lb.len) AS f1_ppm
    FROM ov o
    JOIN lens la ON la.doc_id = o.id_a AND la.n = o.n
    JOIN lens lb ON lb.doc_id = o.id_b AND lb.n = o.n
    """,
)
def text_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = spark.createDataFrame(
        list(_ROUGE_PAIRS), "id_a long, id_b long"
    )
    ids = sorted({i for p in _ROUGE_PAIRS for i in p})
    toks = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(ids))
        .select(
            "doc_id",
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
            ).alias("toks"),
        )
    )
    uni = toks.select(
        "doc_id",
        F.lit(1).cast("long").alias("n"),
        F.explode("toks").alias("gram"),
    )
    bi_arr = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = toks.select(
        "doc_id",
        F.lit(2).cast("long").alias("n"),
        F.explode(bi_arr).alias("gram"),
    )
    grams = (
        uni.unionAll(bi)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lens = grams.groupBy("doc_id", "n").agg(
        F.sum("c").cast("long").alias("len")
    )
    ga = grams.select(
        F.col("doc_id").alias("id_a"),
        F.col("n"),
        F.col("gram"),
        F.col("c").alias("ca"),
    )
    gb = grams.select(
        F.col("doc_id").alias("gid_b"),
        F.col("n").alias("nb"),
        F.col("gram").alias("gramb"),
        F.col("c").alias("cb"),
    )
    ov = (
        cand.join(ga, "id_a")
        .join(
            gb,
            (F.col("id_b") == F.col("gid_b"))
            & (F.col("n") == F.col("nb"))
            & (F.col("gram") == F.col("gramb")),
        )
        .groupBy("id_a", "id_b", "n")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("overlap"))
    )
    la = lens.select(
        F.col("doc_id").alias("id_a"), "n", F.col("len").alias("len_a")
    )
    lb = lens.select(
        F.col("doc_id").alias("id_b"), "n", F.col("len").alias("len_b")
    )
    return (
        ov.join(la, ["id_a", "n"])
        .join(lb, ["id_b", "n"])
        .select(
            "id_a",
            "id_b",
            "n",
            "overlap",
            "len_a",
            "len_b",
            F.expr("(2 * overlap * 1000000L) div (len_a + len_b)").alias(
                "f1_ppm"
            ),
        )
    )


@query(
    "docs_k_anonymity",
    # k-anonymity audit over quasi-identifiers (Sweeney 2002) — the
    # governance twin of docs_pii_scan: group the corpus by the
    # quasi-identifier tuple (lang, source, 100-char length band) and
    # report each equivalence class's size k; classes with k below the
    # threshold (5) are re-identification risks that a release gate
    # would suppress or generalize. Pure grouped count — map-side
    # combined, one shuffle on the QI tuple at any corpus size.
    oracle="""
    SELECT lang, source, n_chars // 100 AS chars_band,
           CAST(COUNT(*) AS BIGINT) AS k,
           COUNT(*) < 5 AS at_risk
    FROM documents GROUP BY lang, source, n_chars // 100
    """,
)
def docs_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .groupBy(
            "lang", "source", F.expr("n_chars div 100").alias("chars_band")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .withColumn("at_risk", F.col("k") < 5)
    )


# Shared SQL fragment: per-doc stopword hit counts for the four
# langid languages (the text_langid_confusion vote fold, exposed as
# counts so the agreement/calibration statistics below can reuse it).
_LANGID_HITS_SQL = """
    SELECT doc_id, lang, LEN(toks) AS n_tok,
           LEN(list_filter(toks, x -> list_contains(['der','die','das','und','zu'], x))) AS h_de,
           LEN(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS h_en,
           LEN(list_filter(toks, x -> list_contains(['el','la','de','y','que'], x))) AS h_es,
           LEN(list_filter(toks, x -> list_contains(['le','la','de','et','les'], x))) AS h_fr
    FROM (
      SELECT doc_id, lang,
             list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                        x -> x <> ''),
                            x -> LOWER(x)) AS toks
      FROM documents)
"""

_LANGID_PRED_CASE = """
    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
         ELSE 'fr' END
"""


@query(
    "text_langid_kappa",
    # Cohen's kappa between the langid heuristic and the labeled lang
    # column — chance-corrected agreement, the statistic an annotation
    # pipeline reports where raw accuracy misleads on skewed label
    # mixes. EXACT integer interior: kappa = (N*sum_diag - sum_k
    # row_k*col_k) / (N^2 - sum_k row_k*col_k) over the confusion-cell
    # counts (multiply po/pe through by N^2), one IEEE division at the
    # end. Margins full-outer-join on category so a class present on
    # only one side contributes 0 product. Headroom: terms are <= N^2 —
    # int64-safe to N ~ 3e9 docs. Scale: everything after the vote fold
    # runs on <= n_langs^2 cells.
    oracle=f"""
    WITH hits AS ({_LANGID_HITS_SQL}),
    pred AS (
      SELECT lang, {_LANGID_PRED_CASE} AS lang_pred FROM hits
    ),
    cells AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_pred
    ),
    rows_m AS (SELECT lang AS k, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY lang),
    cols_m AS (SELECT lang_pred AS k, CAST(SUM(n) AS BIGINT) AS col_n FROM cells GROUP BY lang_pred),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT) AS diag
      FROM cells
    ),
    pe AS (
      SELECT CAST(SUM(COALESCE(row_n, 0) * COALESCE(col_n, 0)) AS BIGINT) AS prod
      FROM rows_m FULL OUTER JOIN cols_m USING (k)
    )
    SELECT nn AS n_docs, diag AS n_agree,
           ROUND(CAST(nn * diag - prod AS DOUBLE) /
                 CAST(nn * nn - prod AS DOUBLE), 6) + 0 AS kappa
    FROM tot CROSS JOIN pe
    """,
)
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cells = (
        d.select("lang", X.langid_stopword_votes("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows_m = cells.groupBy(F.col("lang").alias("k")).agg(
        F.sum("n").cast("long").alias("row_n")
    )
    cols_m = cells.groupBy(F.col("lang_pred").alias("k")).agg(
        F.sum("n").cast("long").alias("col_n")
    )
    prod = (
        rows_m.join(cols_m, "k", "full_outer")
        .select(
            (
                F.coalesce(F.col("row_n"), F.lit(0))
                * F.coalesce(F.col("col_n"), F.lit(0))
            ).alias("p")
        )
        .agg(F.sum("p").cast("long").alias("prod"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    num = (F.col("nn") * F.col("diag") - F.col("prod")).cast("double")
    den = (F.col("nn") * F.col("nn") - F.col("prod")).cast("double")
    return tot.crossJoin(F.broadcast(prod)).select(
        F.col("nn").alias("n_docs"),
        F.col("diag").alias("n_agree"),
        F.round(num / den, 6).alias("kappa"),
    )


@query(
    "text_langid_reliability",
    # Reliability-by-evidence for the langid vote: bucket docs by how
    # much EVIDENCE the winning language had (top-language stopword
    # hits per token, in 5-percentage-point bands) and report accuracy
    # per band — the curve that tells a curation pipeline where to set
    # its evidence floor (accept above, route to review below). The
    # naive confidence h_max/h_total is degenerate on clean corpora
    # (single-language docs score exactly 1.0 — measured at sf0.01),
    # so evidence DENSITY is the axis with signal. All exact integers:
    # density_ppm = (h_max*1e6) div n_tok, bin = min(density_ppm div
    # 5e4, 9), acc_ppm = (n_correct*1e6) div n_docs. Docs with zero
    # stopword hits ('und') are excluded on both engines. Scale: one
    # vote-fold scan, then a <=10-cell aggregate.
    oracle=f"""
    WITH hits AS ({_LANGID_HITS_SQL}),
    scored AS (
      SELECT lang, {_LANGID_PRED_CASE} AS lang_pred,
             GREATEST(h_de, h_en, h_es, h_fr) AS h_max,
             n_tok
      FROM hits
    ),
    conf AS (
      SELECT lang, lang_pred,
             (h_max * 1000000) // n_tok AS density_ppm
      FROM scored WHERE h_max > 0 AND n_tok > 0
    )
    SELECT LEAST(density_ppm // 50000, 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           (CAST(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT)
              * 1000000) // COUNT(*) AS acc_ppm,
           CAST(SUM(density_ppm) AS BIGINT) AS density_sum_ppm
    FROM conf GROUP BY LEAST(density_ppm // 50000, 9)
    """,
)
def text_langid_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cirro_annotation_spark.operators.text import (
        STOPWORDS,
        langid_vote_from_hits,
    )

    d = t(spark, sf_dir, "documents")
    # ONE langid_hits_struct evaluation per row, selected into a column
    # first: HOF expressions get no CSE, so the previous form
    # re-tokenized once per language for the hit counts AND once more
    # inside langid_stopword_votes AND once for n_tok (optimization
    # r15, guide §1.2: 3.6 -> ~1 s at sf0.1, identical output).
    hs = d.select("lang", X.langid_hits_struct("text").alias("__hs"))
    hits = hs.select(
        "lang",
        langid_vote_from_hits(F.col("__hs")).alias("lang_pred"),
        F.greatest(
            *[F.col("__hs")[f"h_{lang}"] for lang in sorted(STOPWORDS)]
        ).cast("long").alias("h_max"),
        F.col("__hs")["n"].cast("long").alias("n_tok"),
    )
    conf = hits.filter((F.col("h_max") > 0) & (F.col("n_tok") > 0)).select(
        "lang",
        "lang_pred",
        F.expr("(h_max * 1000000L) div n_tok").alias("density_ppm"),
    )
    correct = F.when(F.col("lang") == F.col("lang_pred"), 1).otherwise(0)
    return (
        conf.groupBy(
            F.least(
                F.expr("density_ppm div 50000"), F.lit(9).cast("long")
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.sum("density_ppm").cast("long").alias("density_sum_ppm"),
        )
        .select(
            "bin",
            "n_docs",
            "n_correct",
            F.expr("(n_correct * 1000000L) div n_docs").alias("acc_ppm"),
            "density_sum_ppm",
        )
    )


@query(
    "text_zipf_slope",
    # Zipf's-law fit: OLS slope of ln(freq) against ln(rank) over the
    # top-100 terms — the one-number corpus-health companion to
    # text_zipf_histogram (a healthy natural-language corpus slopes
    # near -1; synthetic/templated text flattens). Rank selection is
    # exact (count + deterministic (tf desc, token) rank); the ln sums
    # are floats at ROUND 6 — the docs_token_entropy precedent (sum
    # order ulps are ~1e-15 relative, invisible at 6 decimals).
    # Scale: term counting is the map-side-combined aggregate; top-100
    # selection is orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, no vocabulary-wide single-partition sort), and only the
    # 100-row survivor frame sees a window for rank assignment
    # (ADVICE r12: the previous shape ranked the full vocabulary
    # through one unpartitioned row_number window).
    oracle="""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                      x -> x <> '')) AS token
            FROM documents) toks
      GROUP BY token
    ),
    ranked AS (
      SELECT tf, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token ASC)
                      AS BIGINT) AS rnk
      FROM tf QUALIFY rnk <= 100
    ),
    pts AS (SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(tf AS DOUBLE)) AS y
            FROM ranked),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0 AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             + 0 AS intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    top100 = tf.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(100)
    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    ranked = (
        top100.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("tf").cast("double")).alias("y"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@query(
    "docs_dp_noisy_counts",
    # Seeded differential-privacy release: per-source document counts
    # with Laplace noise — the governance sibling of docs_k_anonymity
    # (suppress small classes there; perturb published counts here).
    # The noise is Laplace(scale=2 counts, i.e. eps=0.5 at sensitivity
    # 1) via the inverse-exponential construction sign * scale * Exp(1):
    # u comes from the first 16 md5 bits of the source key mapped onto
    # the (2b+1)/131072 micro-log lattice, whose floor(-ln(u)*1e6) is
    # probed EQUAL on all 65536 points Spark-vs-DuckDB
    # (tests/test_sampling_lattice.py — the ES-reservoir lattice), and
    # the sign comes from the next md5 bit; everything after the
    # probed floor is integer arithmetic. Seeding noise from the key
    # makes the release REPRODUCIBLE (same table -> same publication);
    # a production release salts the hash per publication epoch.
    # Scale: one grouped count, then per-group constant arithmetic.
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      GROUP BY source
    ),
    seeded AS (
      SELECT source, n,
             CAST(('0x' || substring(md5(source), 1, 4)) AS BIGINT) AS b,
             CASE WHEN CAST(('0x' || substring(md5(source), 5, 1)) AS BIGINT)
                       % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM counts
    )
    SELECT source,
           CAST(n * 1000000
                + sgn * 2 * CAST(FLOOR(-LN((2 * b + 1) / 131072.0) * 1000000)
                                 AS BIGINT) AS BIGINT) AS noisy_count_micro
    FROM seeded
    """,
)
def docs_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    h = F.md5(F.col("source"))
    b = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    sgn = F.when(
        F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    mag = F.floor(
        -F.log((2 * b + 1) / F.lit(131072.0)) * 1000000
    ).cast("long")
    return counts.select(
        "source",
        (F.col("n") * 1000000 + sgn * 2 * mag)
        .cast("long")
        .alias("noisy_count_micro"),
    )


@query(
    "docs_source_vocab_overlap",
    # Source-level vocabulary overlap — the corpus-comparison
    # diagnostic behind source selection (two feeds with ~identical
    # vocabularies are redundant; a source with low overlap against
    # every other is either a new domain or garbage): exact Jaccard of
    # the DISCRIMINATIVE distinct-token vocabularies for every source
    # PAIR, in ppm by integer division (|A∩B| via a self-join of the
    # (source, token) vocab frame, |A∪B| = |A|+|B|−|A∩B|).
    # Discriminative = tokens whose source document-frequency is ≤50%
    # of all sources (df*2 <= S). The cap is both signal and scale
    # (VERDICT r12 "what's wrong" #3): a token present in (nearly)
    # every source says nothing about which pair of sources resembles
    # each other, yet it is exactly the token that fans out into
    # S(S−1)/2 pairs in the intersection join — on a corpus with
    # thousands of feeds every stopword would touch all of them,
    # quadratic in S on the hottest keys. Dropping df > S/2 tokens
    # bounds the per-token fan-out at (S/2 choose 2) and removes the
    # stopword mass entirely; sizes use the SAME filtered vocabulary
    # so the Jaccard stays a true set statistic. The output is the
    # FULL pair matrix (every source pair, built by a broadcast
    # self-join of the S-row sizes frame — S is feed count, thousands
    # at most, so S² is driver-trivial), with zero-intersection pairs
    # present at n_shared = 0: under a discriminative-token metric the
    # disjoint pairs ARE the signal (a source overlapping nothing is
    # the new-domain-or-garbage case the diagnostic exists for).
    # Scale: the vocab frame is tokens × sources AFTER distinct
    # (vocabulary-grain, not corpus-grain); the df filter is one
    # token-keyed groupBy + join; the intersection join is keyed on
    # token — the classic inverted-index co-occurrence shape, never a
    # cross join of corpora.
    oracle="""
    WITH vocab_all AS (
      SELECT DISTINCT source, LOWER(tok) AS token
      FROM (SELECT source,
                   UNNEST(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                      x -> x <> '')) AS tok
            FROM documents) raw
    ),
    n_src AS (
      SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS s FROM vocab_all
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      FROM vocab_all GROUP BY token
    ),
    vocab AS (
      SELECT v.source, v.token
      FROM vocab_all v
      JOIN df ON df.token = v.token
      CROSS JOIN n_src
      WHERE df.df * 2 <= n_src.s
    ),
    sizes AS (
      SELECT s.source, COALESCE(f.v, 0) AS v
      FROM (SELECT DISTINCT source FROM vocab_all) s
      LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
                 FROM vocab GROUP BY source) f
        ON f.source = s.source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS both
      FROM vocab a JOIN vocab b
        ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           COALESCE(i.both, 0) AS n_shared,
           sa.v AS vocab_a, sb.v AS vocab_b,
           CASE WHEN sa.v + sb.v - COALESCE(i.both, 0) = 0 THEN 0
                ELSE COALESCE(i.both, 0) * 1000000
                     // (sa.v + sb.v - COALESCE(i.both, 0)) END
             AS jaccard_ppm
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN inter i
      ON i.source_a = sa.source AND i.source_b = sb.source
    """,
)
def docs_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab_all = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(X.tokens("text")).alias("tok"))
        .select("source", F.lower(F.col("tok")).alias("token"))
        .distinct()
    )
    # Document-frequency cap: keep only tokens in <=50% of sources.
    # n_src is a 1-row scalar frame (broadcast); df is one
    # vocabulary-grain groupBy; the keep-filter is a token-keyed join.
    n_src = vocab_all.select("source").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    keep = (
        vocab_all.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(n_src))
        .filter(F.col("df") * 2 <= F.col("s"))
        .select("token")
    )
    vocab = vocab_all.join(keep, "token")
    # Sizes cover EVERY source (left join onto the all-source frame):
    # a source whose whole vocabulary is stopwords still belongs in
    # the pair matrix, at v = 0.
    filtered_sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("fv")
    )
    sizes = (
        vocab_all.select("source")
        .distinct()
        .join(filtered_sizes, "source", "left")
        .select("source", F.coalesce(F.col("fv"), F.lit(0)).cast("long").alias("v"))
    )
    a = vocab.select(F.col("source").alias("source_a"), "token")
    b = vocab.select(F.col("source").alias("source_b"), F.col("token").alias("tb"))
    inter = (
        a.join(b, (F.col("token") == F.col("tb")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vocab_b"))
    # Full pair matrix from the S-row sizes frame (broadcast self-join
    # — S is feed count, driver-trivial), then LEFT join the
    # token-keyed intersection counts so disjoint pairs surface at 0.
    pairs = sa.join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
    n_shared = F.coalesce(F.col("shared"), F.lit(0)).cast("long")
    denom = F.col("vocab_a") + F.col("vocab_b") - n_shared
    return (
        pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            n_shared.alias("n_shared"),
            "vocab_a",
            "vocab_b",
            F.when(denom == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "coalesce(shared, 0L) * 1000000L"
                    " div (vocab_a + vocab_b - coalesce(shared, 0L))"
                )
            )
            .alias("jaccard_ppm"),
        )
    )
