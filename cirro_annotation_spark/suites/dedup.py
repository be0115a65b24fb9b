"""Deduplication queries over documents (north-star set, SURVEY.md §2.12).

dedup_exact is oracle-checked (sha256 fingerprints match across engines).
The MinHash family is FULLY oracle-checked since r12: the md5
affine-lattice signature (r11) made the banding engine-neutral, so
dedup_minhash_pairs and dedup_near_minhash replay the entire
banding->verify pipeline in DuckDB (_MINHASH_BANDING_CTE), on top of
the kernel twins (dedup_minhash_verify, dedup_minhash_sig_verify,
dedup_simhash_verify) over pinned candidate lists. Only
dedup_simhash_pairs stays rows-only — its live banding is xxhash64,
which has no DuckDB twin by design (speed); its construction is
hash-checked through the md5-SimHash verify kernel instead. Pytest
property tests in tests/test_dedup.py back the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cirro_annotation_spark.operators import dedup as D
from cirro_annotation_spark.registry import query
from cirro_annotation_spark.suites.util import t


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents
      GROUP BY REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.dedup_exact(d, "text", "doc_id").select("doc_id", "lang", "source")


@query(
    "dedup_exact_counts",
    oracle="""
    SELECT REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS fp_text,
           COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents GROUP BY 1 HAVING COUNT(*) > 0
    """,
)
def dedup_exact_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Duplicate-cluster inventory: fingerprint → copy count + keeper id.
    d = t(spark, sf_dir, "documents")
    fp_text = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select(fp_text.alias("fp_text"), "doc_id")
        .groupBy("fp_text")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


# The FULL MinHash banding pipeline as DuckDB CTEs (r12 — possible only
# because r11 moved the signature onto the md5 affine lattice): shingles
# -> per-gram (h1, h2) -> 32 affine minima per doc -> 8 comma-joined
# 4-minima band keys -> band-key equality self-join -> distinct ordered
# candidate pairs. Docs with zero shingles are excluded before banding
# exactly as Spark's sentinel filter does. With this, the banding
# queries graduate from rows-only to full value-hash oracles and the
# rows-only set shrinks to the genuinely-impossible kernels (xxhash64
# SimHash banding, HLL sketches, the streaming Bloom filter).
_MINHASH_BANDING_CTE = r"""
WITH sh AS (
  SELECT doc_id, lang, source,
         list_filter(
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)]),
           g -> g <> '') AS grams
  FROM (SELECT doc_id, lang, source,
               list_filter(string_split_regex(TRIM(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents)
),
hx AS MATERIALIZED (
  SELECT doc_id,
         list_transform(grams, g ->
           CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)) AS h1s,
         list_transform(grams, g ->
           CAST(('0x' || substring(md5(g), 9, 8)) AS BIGINT) | 1) AS h2s
  FROM sh WHERE len(grams) > 0
),
sigs AS MATERIALIZED (
  SELECT doc_id, seed,
         list_min(list_transform(range(1, len(h1s) + 1),
                  i -> (h1s[i] + seed * h2s[i]) % 4294967296)) AS minval
  FROM hx CROSS JOIN range(0, 32) AS r(seed)
),
banded AS MATERIALIZED (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(minval, ',' ORDER BY seed) AS band_hash
  FROM sigs GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         ROUND(LEN(list_intersect(sa.grams, sb.grams)) * 1.0 /
               NULLIF(LEN(list_distinct(list_concat(sa.grams, sb.grams))),
                      0), 6) AS jaccard
  FROM cand c
  JOIN sh sa ON c.id_a = sa.doc_id
  JOIN sh sb ON c.id_b = sb.doc_id
)
"""


@query(
    "dedup_near_minhash",
    oracle=_MINHASH_BANDING_CTE
    + """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM verified WHERE jaccard >= 0.7)
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup survivors: drop the higher-id member of every verified
    near-pair (local-minima representatives). Full oracle since r12 —
    the DuckDB twin replays the entire banding->verify->anti-join."""
    d = t(spark, sf_dir, "documents")
    return D.dedup_near_minhash(d, "text", "doc_id", threshold=0.7).select(
        "doc_id", "lang", "source"
    )


@query(
    "dedup_minhash_pairs",
    oracle=_MINHASH_BANDING_CTE
    + """
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-duplicate pairs with their exact Jaccard. Full
    oracle since r12 (md5-lattice banding is engine-neutral)."""
    d = t(spark, sf_dir, "documents")
    cands = D.minhash_candidates(d, "text", "doc_id")
    return D.jaccard_verify(d, cands, "text", "doc_id", threshold=0.5)


# Golden candidate pairs: the distinct (id_a, id_b) emitted by
# minhash_candidates() at sf0.01 (deterministic — md5 affine-lattice
# MinHash, regenerated r12 after the r11 xxhash64→md5 switch; the
# switch added exactly one pair, (60, 171)). Pinning them lets the
# VERIFY stage (exact Jaccard on candidates) get a full DuckDB hash
# check even though the banding stage itself can't: both engines
# compute exact 3-gram Jaccard for the same pair list.
_GOLDEN_CANDIDATES: tuple[tuple[int, int], ...] = (
    (8, 245), (26, 455), (31, 383), (44, 446), (45, 267), (45, 413),
    (58, 293), (60, 171), (61, 185), (70, 447), (72, 377), (87, 134),
    (92, 450), (98, 290), (107, 387), (120, 332), (152, 178), (166, 323),
    (267, 413), (285, 301), (295, 374), (310, 389), (326, 457), (393, 420),
    (435, 486), (458, 462),
)

_CAND_VALUES = ", ".join(f"({a}, {b})" for a, b in _GOLDEN_CANDIDATES)


@query(
    "dedup_minhash_verify",
    oracle=f"""
    WITH cand(id_a, id_b) AS (VALUES {_CAND_VALUES}),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)]) AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS toks
            FROM documents)
    )
    SELECT c.id_a, c.id_b,
           ROUND(LEN(list_intersect(a.grams, b.grams)) * 1.0 /
                 NULLIF(LEN(list_distinct(list_concat(a.grams, b.grams))), 0), 6) AS jaccard
    FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
    WHERE LEN(list_intersect(a.grams, b.grams)) * 1.0 /
          NULLIF(LEN(list_distinct(list_concat(a.grams, b.grams))), 0) >= 0.5
    """,
)
def dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH VERIFY kernel under a full oracle: exact 3-gram
    Jaccard on the pinned candidate pairs the banding stage emits at
    sf0.01 (same candidates fed to DuckDB — fixture-golden like
    manifest_harvest_columns). dedup_minhash_pairs runs the live
    banding→verify composition; this query proves the verify arithmetic.

    The pinned ids are a literal, so they are filtered before the
    verify call and push to the parquet scan as In(doc_id) —
    jaccard_verify's generic semi-join (for non-literal candidate
    frames) cannot reach the scan (optimization r15, guide §6)."""
    cand_ids = sorted({i for pair in _GOLDEN_CANDIDATES for i in pair})
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id").isin(cand_ids))
    cands = spark.createDataFrame(
        list(_GOLDEN_CANDIDATES), "id_a long, id_b long"
    )
    return D.jaccard_verify(d, cands, "text", "doc_id", threshold=0.5)


@query(
    "dedup_minhash_sig_verify",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_filter(
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)]),
               g -> g <> '') AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(TRIM(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents WHERE doc_id < 100)
    )
    SELECT doc_id, CAST(seed AS INT) AS seed,
           COALESCE(list_min(list_transform(grams, g ->
             (CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)
              + seed * (CAST(('0x' || substring(md5(g), 9, 8)) AS BIGINT) | 1))
             % 4294967296)), 4294967296) AS minval
    FROM sh CROSS JOIN range(0, 32) AS r(seed)
    """,
)
def dedup_minhash_sig_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash SIGNATURE construction under a full oracle (VERDICT
    r11 item 6b, the dedup_simhash_verify pattern): run
    operators.dedup.minhash_signatures, the md5 affine-lattice
    signature — tokenize → distinct 3-gram shingles →
    md5 once per shingle → (h1 + i·h2) mod 2^32 minima for 32 seeds —
    on a pinned 100-doc slice and emit it exploded as (doc_id, seed,
    minval). dedup_minhash_verify hash-checks the Jaccard VERIFY stage;
    this one hash-checks the signatures the banding stage builds on, so
    together only the band-key equality join remains rows-only."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # The signature IS minhash_signatures, the stage minhash_candidates
    # bands, so the oracle checks the code that runs; the left join
    # restores the all-sentinel rows for zero-shingle docs, which the
    # aggregate has no rows for.
    two32 = F.lit(4294967296).cast("long")
    sig = D.minhash_signatures(d, "text", "doc_id").withColumnRenamed(
        "__id", "doc_id"
    )
    full = d.select("doc_id").join(sig, "doc_id", "left")
    arr = F.array(
        *[F.coalesce(F.col(f"__s{i}"), two32) for i in range(32)]
    )
    return full.select(
        "doc_id", F.posexplode(arr).alias("seed", "minval")
    )


# ---------------------------------------------------------------------------
# URL/source canonicalization dedup (VERDICT r10 item 7a) — the C4/
# CommonCrawl prefilter that runs BEFORE content dedup: canonicalize the
# page URL, collapse exact canonical duplicates, and cap documents per
# host. The documents fixture has no URL column, so both engines derive
# the SAME deterministic messy URL per doc (scheme/WWW/port/utm/fragment
# noise varied by doc_id residues) — the operator under test is the
# canonicalizer + dedup + cap, not the fixture.
# ---------------------------------------------------------------------------
def _messy_url_sql(cast_str: str) -> str:
    """The messy-URL fixture expression, shared verbatim by Spark and
    DuckDB up to the string-cast spelling (STRING vs VARCHAR)."""
    s = lambda e: f"CAST({e} AS {cast_str})"  # noqa: E731
    return f"""CONCAT(
      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END,
      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      source, '.Example.COM',
      CASE WHEN doc_id % 5 = 0
           THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
           ELSE '' END,
      '/articles/', {s('doc_id % 40')},
      CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_medium=rss'
           WHEN doc_id % 7 = 0 THEN '?page=2' ELSE '' END,
      CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END)"""


_URL_CANON_ORACLE = f"""
    WITH u AS (
      SELECT doc_id, {_messy_url_sql('VARCHAR')} AS url FROM documents),
    c AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
               '^www\\.', ''), ':(443|80)$', '') AS host,
             regexp_replace(
               regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
               '/+$', '') AS path,
             regexp_replace(regexp_replace(
               regexp_extract(url, '^[^#]*\\?([^#]*)', 1),
               '(^|&)utm_[a-z]+=[^&]*', '', 'g'), '^&', '') AS q
      FROM u),
    canon AS (
      SELECT doc_id, host,
             'https://' || host || path ||
             CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
      FROM c),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id)
                  AS url_rank
      FROM canon),
    s AS (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id)
                       AS host_rank
      FROM r WHERE url_rank = 1
      QUALIFY host_rank <= 5)
    SELECT r.doc_id, r.host, r.canon_url,
           CAST(r.url_rank AS BIGINT) AS url_rank,
           CAST(s.host_rank AS BIGINT) AS host_rank,
           COALESCE(s.host_rank <= 5, FALSE) AS kept
    FROM r LEFT JOIN s ON r.doc_id = s.doc_id
"""


@query("docs_url_canonical_dedup", oracle=_URL_CANON_ORACLE)
def docs_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL prefilter: canonicalize (https scheme, lowercase
    host, strip www./default ports/utm_* params/fragments/trailing
    slash — operators/text.py canonicalize_url, all JVM regexp, no
    UDF), keep the lowest-doc_id copy per canonical URL, then cap each
    host at 5 surviving documents. Scale shape: the URL-dedup window
    partitions on canonical URL (millions of distinct keys, even
    shuffle); the host cap is a salted two-phase bounded rank
    (operators/dedup.py bounded_rank_per_key) so a mega-host — one
    host with 1e8 surviving URLs on real web data — never funnels into
    a single window partition (VERDICT r11 fix). host_rank is emitted
    only up to the cap (NULL beyond it — ranks past the cap are
    meaningless at scale and exactly what the unbounded window was
    paying for); text never moves, only (doc_id, url) pairs."""
    from cirro_annotation_spark.operators import text as X

    d = t(spark, sf_dir, "documents")
    u = d.select(
        "doc_id", F.expr(_messy_url_sql("STRING")).alias("url")
    )
    c = u.select(
        "doc_id",
        X.url_host(F.col("url")).alias("host"),
        X.canonicalize_url(F.col("url")).alias("canon_url"),
    )
    r = c.withColumn(
        "url_rank",
        F.row_number().over(
            Window.partitionBy("canon_url").orderBy("doc_id")
        ).cast("long"),
    )
    s = D.bounded_rank_per_key(
        r.filter(F.col("url_rank") == 1).select("doc_id", "host"),
        "host",
        "doc_id",
        k=5,
    ).select("doc_id", F.col("rnk_k").alias("host_rank"))
    return (
        r.join(s, "doc_id", "left")
        .select(
            "doc_id",
            "host",
            "canon_url",
            "url_rank",
            "host_rank",
            F.coalesce(F.col("host_rank") <= 5, F.lit(False)).alias("kept"),
        )
    )


# Golden SimHash candidate pairs: the distinct (id_a, id_b) the 4x16-bit
# bucket join emits at sf0.01 with max_hamming=8 (deterministic -
# xxhash64-seeded signatures). Pinning them gives the VERIFY stage a
# full DuckDB hash check (the dedup_minhash_verify pattern): both
# engines recompute an ENGINE-NEUTRAL 60-bit md5-SimHash per doc -
# tokenize, md5 token hash, +-1 bit votes, sign packing - then the
# Hamming distance and threshold on the same pinned pair list, so the
# whole signature construction is hash-checked, not just the distance.
_SIMHASH_GOLDEN: tuple[tuple[int, int], ...] = (
    (4, 213), (4, 251), (4, 264), (4, 328), (4, 422), (4, 424), (5, 14), (5,
    140), (5, 201), (5, 280), (5, 401), (5, 440), (5, 478), (7, 205), (7,
    221), (7, 451), (7, 491), (8, 245), (9, 18), (9, 82), (9, 328), (9,
    381), (9, 418), (9, 452), (10, 490), (14, 31), (14, 129), (14, 140),
    (14, 251), (14, 280), (14, 337), (14, 367), (14, 452), (18, 452), (18,
    465), (20, 42), (22, 251), (22, 387), (22, 439), (22, 461), (22, 473),
    (22, 483), (23, 123), (25, 380), (26, 455), (27, 272), (27, 280), (27,
    331), (29, 69), (29, 139), (29, 215), (29, 249), (30, 405), (31, 167),
    (31, 230), (31, 296), (31, 300), (31, 321), (31, 367), (31, 383), (31,
    499), (32, 178), (32, 237), (32, 336), (35, 399), (35, 487), (37, 245),
    (40, 197), (40, 212), (40, 490), (42, 215), (42, 490), (43, 454), (43,
    472), (44, 446), (45, 413), (47, 228), (51, 56), (51, 304), (51, 369),
    (56, 369), (58, 293), (60, 286), (61, 185), (62, 278), (63, 100), (63,
    453), (63, 490), (63, 495), (66, 120), (67, 131), (67, 363), (67, 444),
    (69, 113), (69, 126), (69, 249), (69, 259), (69, 329), (69, 453), (70,
    353), (70, 447), (72, 377), (73, 264), (75, 270), (76, 102), (76, 142),
    (77, 369), (78, 334), (82, 417), (82, 452), (82, 454), (86, 444), (87,
    134), (92, 450), (95, 343), (97, 102), (98, 290), (102, 142), (102,
    230), (105, 112), (105, 118), (105, 123), (105, 274), (107, 197), (107,
    387), (107, 461), (109, 406), (109, 440), (111, 312), (112, 274), (112,
    486), (113, 126), (113, 259), (113, 320), (113, 329), (113, 453), (118,
    227), (120, 332), (126, 128), (126, 155), (126, 167), (126, 221), (126,
    259), (126, 329), (126, 453), (128, 230), (128, 249), (128, 263), (128,
    300), (128, 326), (128, 336), (128, 437), (128, 442), (129, 452), (131,
    285), (131, 301), (132, 439), (135, 440), (139, 263), (140, 280), (140,
    360), (142, 155), (142, 167), (142, 230), (142, 296), (142, 337), (145,
    154), (145, 311), (145, 321), (145, 352), (145, 386), (145, 403), (145,
    466), (147, 176), (147, 411), (151, 251), (151, 274), (151, 422), (151,
    430), (151, 449), (151, 495), (152, 178), (155, 169), (155, 314), (155,
    474), (158, 360), (159, 316), (161, 224), (161, 321), (162, 205), (166,
    323), (167, 221), (167, 230), (167, 367), (171, 402), (171, 459), (173,
    230), (173, 296), (173, 300), (174, 351), (176, 255), (176, 461), (177,
    429), (178, 237), (178, 417), (179, 386), (179, 435), (182, 285), (182,
    301), (182, 353), (182, 461), (184, 328), (187, 232), (189, 265), (190,
    406), (190, 431), (196, 278), (196, 330), (197, 251), (197, 263), (197,
    422), (197, 424), (197, 426), (197, 439), (197, 461), (200, 490), (201,
    418), (201, 426), (201, 466), (205, 376), (207, 258), (207, 336), (213,
    352), (221, 249), (221, 250), (221, 385), (221, 451), (221, 493), (225,
    237), (227, 240), (227, 344), (227, 490), (230, 249), (232, 255), (232,
    285), (232, 301), (232, 318), (232, 429), (240, 283), (241, 349), (241,
    353), (242, 353), (244, 250), (244, 294), (245, 261), (251, 300), (251,
    353), (251, 355), (251, 422), (251, 424), (251, 426), (251, 439), (251,
    442), (251, 459), (251, 461), (251, 473), (258, 264), (258, 417), (259,
    453), (263, 378), (264, 296), (264, 381), (264, 466), (264, 495), (267,
    413), (269, 401), (270, 453), (271, 360), (272, 280), (274, 291), (274,
    488), (276, 363), (276, 437), (278, 428), (280, 296), (280, 321), (284,
    354), (285, 294), (285, 301), (285, 353), (285, 493), (287, 360), (291,
    435), (291, 486), (292, 363), (294, 301), (294, 385), (294, 493), (295,
    374), (296, 321), (296, 337), (296, 353), (296, 383), (300, 437), (300,
    439), (300, 442), (300, 461), (300, 473), (301, 353), (301, 493), (302,
    478), (306, 352), (309, 319), (309, 422), (311, 321), (314, 336), (314,
    424), (317, 323), (318, 329), (318, 461), (319, 424), (321, 337), (321,
    378), (321, 383), (325, 339), (326, 387), (326, 437), (326, 457), (328,
    381), (328, 426), (329, 453), (329, 490), (336, 346), (336, 351), (336,
    437), (339, 445), (340, 473), (346, 437), (349, 373), (351, 495), (353,
    439), (353, 442), (353, 473), (353, 483), (360, 401), (360, 478), (363,
    495), (378, 479), (381, 418), (381, 422), (386, 467), (387, 439), (387,
    457), (387, 461), (387, 473), (387, 483), (393, 420), (397, 490), (399,
    430), (399, 460), (401, 478), (402, 459), (418, 452), (418, 466), (419,
    429), (422, 423), (422, 424), (422, 426), (422, 439), (426, 466), (430,
    449), (435, 486), (439, 461), (439, 473), (440, 478), (442, 453), (453,
    495), (458, 462), (458, 466), (461, 473), (462, 466), (465, 473), (466,
    495), (473, 483),
)

_SIMHASH_CAND_VALUES = ", ".join(f"({a}, {b})" for a, b in _SIMHASH_GOLDEN)

_SIMHASH60_DUCK = """
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 60), i ->
      CASE WHEN list_sum(list_transform(hashes, h2 ->
             CASE WHEN (h2 >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
         AS BIGINT) AS sig
  FROM (
    SELECT doc_id,
           list_transform(
             list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
             x -> CAST(('0x' || substring(md5(lower(x)), 1, 15)) AS BIGINT))
             AS hashes
    FROM documents)
"""


@query(
    "dedup_simhash_verify",
    oracle=f"""
    WITH cand(id_a, id_b) AS (VALUES {_SIMHASH_CAND_VALUES}),
    sig AS ({_SIMHASH60_DUCK})
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming60,
           bit_count(xor(a.sig, b.sig)) <= 12 AS is_near
    FROM cand c
    JOIN sig a ON c.id_a = a.doc_id
    JOIN sig b ON c.id_b = b.doc_id
    """,
)
def dedup_simhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash VERIFY kernel under a full oracle (VERDICT r10 item
    3, dedup_minhash_verify precedent): recompute an engine-neutral
    60-bit md5-SimHash per document and report the Hamming distance +
    near-dup flag for the pinned sf0.01 candidate list. The live
    banding query (dedup_simhash_pairs) stays xxhash64-fast and
    rows-only; this one proves the construction and distance
    arithmetic bit-for-bit.

    Only docs in the pinned pair list can survive the inner joins, so
    the expensive md5 vote fold runs on exactly those ids: the literal
    id set is filtered BEFORE the signature select and pushes to the
    parquet scan as an In(doc_id) predicate (optimization r15, guide
    §6 — previously every document in the corpus paid the 60-bit fold
    and the joins then discarded all but ~280 of them)."""
    d = t(spark, sf_dir, "documents")
    cand_ids = sorted({i for pair in _SIMHASH_GOLDEN for i in pair})
    sig = d.filter(F.col("doc_id").isin(cand_ids)).select(
        F.col("doc_id"), D.simhash60_md5("text").alias("sig")
    )
    cands = spark.createDataFrame(
        list(_SIMHASH_GOLDEN), "id_a long, id_b long"
    )
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            ham.cast("int").alias("hamming60"),
            (ham <= 12).alias("is_near"),
        )
    )


@query("dedup_simhash_pairs")  # rows-only
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(d, "text", "doc_id", max_hamming=8)


@query(
    "dedup_ngram_jaccard_sample",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)]) AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < 200)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(LEN(list_intersect(a.grams, b.grams)) * 1.0 /
                 NULLIF(LEN(list_distinct(list_concat(a.grams, b.grams))), 0), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE LEN(list_intersect(a.grams, b.grams)) * 1.0 /
          NULLIF(LEN(list_distinct(list_concat(a.grams, b.grams))), 0) >= 0.1
    """,
)
def dedup_ngram_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on a small id-slice, all-pairs — the oracle-able
    twin of the LSH verify stage (the slice keeps the oracle's O(n²) honest).
    Slice/threshold chosen so the sf0.01 fixture yields ≥1 pair — a 0=0
    hash match proves nothing."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = d.select(
        F.col("doc_id"), D.shingles("text", 3).alias("grams")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = F.round(inter / F.nullif(union, F.lit(0)), 6)
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.1)
    )


@query(
    "dedup_fuzzy_levenshtein",
    # Edit-distance fuzzy matching on a fixed id-slice of 40-char
    # prefixes (the verify-kernel twin for typo-level near-dups, where
    # token-level Jaccard is blind). Integer metric — engine-exact.
    # Threshold 22 yields 44 pairs at sf0.01 (min distance in the random
    # fixture is 19, so the check is non-vacuous by construction).
    oracle="""
    WITH s AS (SELECT doc_id, SUBSTRING(text, 1, 40) AS prefix
               FROM documents WHERE doc_id < 120)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 22
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy pairs (Levenshtein on a bounded prefix,
    sliced all-pairs): the typo-dedup kernel. At corpus scale the
    all-pairs stage is replaced by a blocking key (simhash chunk or
    length band) exactly like the MinHash banding — the kernel is what
    this query verifies."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    s = d.select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    a, b = s.alias("a"), s.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 22)
    )


# Shared edge definition for the cluster queries: the Levenshtein pair
# graph over the doc_id<120 prefix slice — the same engine-exact integer
# metric dedup_fuzzy_levenshtein already hash-proves, reused here as the
# EDGE SET whose transitive closure forms duplicate clusters.
_CC_ORACLE_GRAPH = """
    s AS (SELECT doc_id, SUBSTRING(text, 1, 40) AS prefix
          FROM documents WHERE doc_id < 120),
    e AS (SELECT a.doc_id AS u, b.doc_id AS v
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE levenshtein(a.prefix, b.prefix) <= 22),
    edges AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    reach(v, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT edges.v, reach.lbl FROM reach JOIN edges ON edges.u = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(lbl) AS component FROM reach GROUP BY v)
"""


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    s = d.select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    a, b = s.alias("a"), s.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(dist <= 22)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_CC_ORACLE_GRAPH}
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members
    FROM comp
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair graph: distributed
    min-label propagation (operators/dedup.py:connected_components) vs
    the oracle's WITH RECURSIVE reachability closure. A~B and B~C chain
    into one cluster even though A~C never fired — the step a pairwise
    verify can't express and the classic driver-side union-find doesn't
    survive at corpus scale."""
    comp = D.connected_components(_cc_edges(spark, sf_dir))
    w = Window.partitionBy("component")
    return comp.select(
        F.col("vertex").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


@query(
    "dedup_cluster_components_star",
    # Same transitive closure, computed by large-star/small-star edge
    # rewiring (Kiveris et al.) instead of min-label propagation —
    # O(log^2) rounds on long-diameter graphs where propagation pays
    # O(diameter). Both implementations must produce the identical
    # (vertex, component) mapping; holding the star variant to the SAME
    # recursive-CTE oracle proves that, not just that it "runs".
    oracle=f"""
    WITH RECURSIVE {_CC_ORACLE_GRAPH}
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members
    FROM comp
    """,
)
def dedup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = D.connected_components_star(_cc_edges(spark, sf_dir))
    w = Window.partitionBy("component")
    return comp.select(
        F.col("vertex").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


@query(
    "dedup_cluster_auto",
    # The round-6 auto-select wrapper (r5 verdict item 5): capped
    # propagation with transparent star fallback. Held to the SAME
    # recursive-CTE oracle as both underlying algorithms — whichever
    # branch fires, the (doc_id, component) contract must be identical.
    oracle=f"""
    WITH RECURSIVE {_CC_ORACLE_GRAPH}
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members
    FROM comp
    """,
)
def dedup_cluster_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected_components_auto (operators/dedup.py): min-label
    propagation under a round cap, falling through to large/small-star
    rewiring on ComponentsNotConverged — the long-diameter escape hatch
    made automatic, so a 100 TB caller never has to guess the graph's
    diameter up front."""
    comp = D.connected_components_auto(_cc_edges(spark, sf_dir))
    w = Window.partitionBy("component")
    return comp.select(
        F.col("vertex").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


def dedup_cluster_assign_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared by dedup_cluster_assign and dedup_survivor_corpus."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )
    comp = D.connected_components(_cc_edges(spark, sf_dir)).withColumnRenamed(
        "vertex", "doc_id"
    )
    return d.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        F.col("component").isNotNull().alias("clustered"),
    )


@query(
    "dedup_cluster_assign",
    oracle=f"""
    WITH RECURSIVE {_CC_ORACLE_GRAPH}
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster_id,
           CAST(c.component IS NOT NULL AS BOOLEAN) AS clustered
    FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d
    LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-facing collapse key: every document in the slice gets a
    cluster id — its component when it belongs to one, itself as a
    singleton otherwise. Downstream dedup is then a plain
    first-of-group on cluster_id. The component frame is tiny relative
    to the corpus (only docs that appeared in a verified pair), so the
    join broadcasts at scale."""
    return dedup_cluster_assign_impl(spark, sf_dir)


@query(
    "dedup_survivor_corpus",
    # The step that actually SHRINKS the training set: pick one
    # canonical survivor (min doc_id) per cluster and rewrite the
    # corpus down to survivors only — the terminal stage of the
    # minhash → verify → components → assign chain.
    oracle=f"""
    WITH RECURSIVE {_CC_ORACLE_GRAPH},
    assign AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
      FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d
      LEFT JOIN comp c USING (doc_id)
    ),
    survivors AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_collapsed
      FROM assign
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY cluster_id)
    )
    SELECT s.doc_id, s.cluster_id, s.n_collapsed, d.lang, d.n_chars
    FROM survivors s JOIN documents d USING (doc_id)
    """,
)
def dedup_survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection is a window min keyed on cluster_id — the
    shuffle carries (doc_id, cluster_id) pairs only, never text; corpus
    hydration then BROADCASTS the survivor ids onto the documents scan,
    so the full corpus is read once and never shuffled. n_collapsed
    rides along so downstream mixture weights can upweight survivors
    that represent many duplicates (the dedup-aware sampling trick)."""
    assign = dedup_cluster_assign_impl(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    survivors = (
        assign.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("n_collapsed"),
            F.min("doc_id").over(w).alias("__keep"),
        )
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.join(F.broadcast(survivors), "doc_id").select(
        "doc_id", "cluster_id", "n_collapsed", "lang", "n_chars"
    )


@query(
    "dedup_incremental_batch",
    # Nightly-ingest shape: the top 20% of doc_ids play the "new batch",
    # the rest the standing corpus. A new doc is ACCEPTED iff its
    # normalized fingerprint matches no corpus doc AND it is the
    # first-by-id holder of that fingerprint within the batch itself.
    oracle="""
    WITH fp AS (SELECT doc_id,
                       REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')
                         AS f
                FROM documents),
    split AS (SELECT (SELECT MAX(doc_id) FROM documents) * 4 / 5 AS cutoff),
    corpus AS (SELECT f FROM fp CROSS JOIN split WHERE doc_id <= cutoff),
    batch AS (SELECT doc_id, f FROM fp CROSS JOIN split WHERE doc_id > cutoff),
    survivors AS (SELECT b.doc_id, b.f FROM batch b
                  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)),
    firsts AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f
                                                 ORDER BY doc_id) AS rn
               FROM survivors)
    SELECT doc_id FROM firsts WHERE rn = 1
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the shape a standing 100 TB corpus
    runs nightly: fingerprint the NEW batch only, LEFT ANTI join against
    the corpus fingerprint index (which at scale is a bucketed/sorted
    table keyed by fingerprint, so the join is shuffle-free on the
    corpus side), then first-wins within the batch. The corpus text is
    never read — only its fingerprint column — and the batch side is
    the small relation, so Spark broadcasts it when it fits.
    """
    d = t(spark, sf_dir, "documents")
    f = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = d.select("doc_id", f.alias("f"))
    cutoff = fp.agg((F.max("doc_id") * 4 / 5).cast("long").alias("cutoff"))
    withc = fp.crossJoin(F.broadcast(cutoff))
    corpus = withc.filter(F.col("doc_id") <= F.col("cutoff")).select("f")
    batch = withc.filter(F.col("doc_id") > F.col("cutoff")).select("doc_id", "f")
    survivors = batch.join(corpus, "f", "left_anti")
    w = Window.partitionBy("f").orderBy("doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


@query(
    "dedup_bloom_prefilter",
    # Same ACCEPT semantics as dedup_incremental_batch, different
    # execution strategy: a Bloom-filter PRE-FILTER stands in front of
    # the exact fingerprint join. The corpus side is collapsed to its
    # set of k=3 hash positions modulo m=2^17 — bounded by m rows (a
    # 16 KiB bitmap's worth of ints) NO MATTER how large the corpus
    # grows, which is the whole point at 100 TB: the broadcast side is
    # FIXED SIZE, unlike a fingerprint index that grows with the
    # corpus. A batch doc with ANY position missing from the set is
    # provably new (no false negatives) and skips the exact join
    # entirely; only bloom-positive candidates (true dups + ~(nk/m)^k
    # false positives) reach the exact anti-join verify, so the
    # expensive join runs on a sliver of the batch. The final result is
    # EXACT — the bloom only routes, never decides — hence the oracle
    # is the plain exact SQL. tests/test_dedup.py pins the no-false-
    # negative invariant and that the prefilter actually prunes.
    oracle="""
    WITH fp AS (SELECT doc_id,
                       REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')
                         AS f
                FROM documents),
    split AS (SELECT (SELECT MAX(doc_id) FROM documents) * 4 / 5 AS cutoff),
    corpus AS (SELECT f FROM fp CROSS JOIN split WHERE doc_id <= cutoff),
    batch AS (SELECT doc_id, f FROM fp CROSS JOIN split WHERE doc_id > cutoff),
    survivors AS (SELECT b.doc_id, b.f FROM batch b
                  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)),
    firsts AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f
                                                 ORDER BY doc_id) AS rn
               FROM survivors)
    SELECT doc_id FROM firsts WHERE rn = 1
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    new_docs = bloom_prefilter_new_docs(spark, sf_dir)
    w = Window.partitionBy("f").orderBy("doc_id")
    return (
        new_docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


BLOOM_M = 1 << 17  # bits in the filter
BLOOM_K = 3  # hash functions


def _bloom_positions() -> list:
    """k hash positions for the fingerprint column ``f`` — xxhash64 over
    (f, seed_i), reduced mod m. Column expressions, evaluated identically
    on the build (corpus) and probe (batch) sides."""
    return [
        F.pmod(F.xxhash64(F.col("f"), F.lit(i)), F.lit(BLOOM_M))
        for i in range(BLOOM_K)
    ]


def bloom_build_bitmap(corpus_fp: DataFrame) -> list[int]:
    """Aggregate the corpus fingerprints into an m-bit Bloom bitmap,
    returned as m/64 longs. The aggregate's output is bounded by m/64 =
    2048 rows (16 KiB) NO MATTER the corpus row count — map-side partial
    bit_or collapses each scan partition to <=2048 rows before the one
    tiny shuffle. The ``.collect()`` is fixed-size model state, the same
    contract as the IVF centroids (PLANS.md collect inventory)."""
    words = (
        corpus_fp.select(F.explode(F.array(*_bloom_positions())).alias("pos"))
        .groupBy(F.shiftright(F.col("pos"), 6).alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, int(pos % 64))")).alias("bits"))
        .collect()
    )
    bitmap = [0] * (BLOOM_M >> 6)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_might_contain(bitmap: list[int]):
    """Pure-codegen membership predicate over ``f``: test all k bit
    positions against the bitmap array literal. No join, no shuffle —
    the 16 KiB bitmap constant-folds into the row predicate."""
    bm = F.array(*[F.lit(v) for v in bitmap])
    tests = [
        (
            F.expr(
                f"element_at(__bloom_bm, int(__bloom_p{i} / 64) + 1) "
                f"& shiftleft(1L, int(__bloom_p{i} % 64))"
            )
            != 0
        )
        for i in range(BLOOM_K)
    ]
    pred = tests[0]
    for tst in tests[1:]:
        pred = pred & tst
    return bm, pred


def bloom_route_new_docs(corpus_fp: DataFrame, batch_fp: DataFrame) -> DataFrame:
    """(doc_id, f) batch rows NOT present in the corpus, resolved
    bloom-first: rows with any unset bit are provably new (no false
    negatives) and bypass the exact join entirely; only bloom-positive
    candidates (true dups + ~(nk/m)^k false positives) reach the exact
    anti-join verify. Both routes are FILTERS on the batch scan — the
    routing itself does no join and no shuffle."""
    bitmap = bloom_build_bitmap(corpus_fp)
    bm, pred = bloom_might_contain(bitmap)
    probe = batch_fp
    for i, pos in enumerate(_bloom_positions()):
        probe = probe.withColumn(f"__bloom_p{i}", pos)
    probe = probe.withColumn("__bloom_bm", bm).withColumn("__bloom_pos", pred)
    definite_new = probe.filter(~F.col("__bloom_pos")).select("doc_id", "f")
    candidates = probe.filter(F.col("__bloom_pos")).select("doc_id", "f")
    false_positives = candidates.join(corpus_fp.select("f"), "f", "left_anti")
    return definite_new.unionByName(false_positives.select("doc_id", "f"))


def bloom_prefilter_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture's 80/20 corpus/batch split routed through
    bloom_route_new_docs. Exposed separately so tests can pin the
    pruning invariants on planted-duplicate frames.

    The fingerprint frame is normalized ONCE and checkpointed: the
    query's branches (bloom build, both probe routes, exact verify)
    otherwise each re-run the regex normalization over the full text
    column — 5 scans where one suffices (measured 68s → 20s at the
    100× tier). In production neither pass exists for the corpus: a
    standing corpus maintains its fingerprint index AND its bloom
    bitmap incrementally at ingest; only the new batch normalizes
    fresh. The fixture rebuilds both from raw text, so tier wall-time
    here OVERSTATES the steady-state cost."""
    d = t(spark, sf_dir, "documents")
    f = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = d.select("doc_id", f.alias("f")).localCheckpoint(eager=True)
    cutoff = fp.agg((F.max("doc_id") * 4 / 5).cast("long").alias("cutoff"))
    withc = fp.crossJoin(F.broadcast(cutoff))
    corpus = withc.filter(F.col("doc_id") <= F.col("cutoff")).select("f")
    batch = withc.filter(F.col("doc_id") > F.col("cutoff")).select("doc_id", "f")
    return bloom_route_new_docs(corpus, batch)


@query(
    "dedup_ngram_containment_sample",
    # Asymmetric CONTAINMENT |A∩B|/|A| on the same id-slice as the
    # Jaccard kernel — the metric that catches quote-inclusion and
    # excerpt duplication, where a short doc lives inside a long one
    # and symmetric Jaccard stays low. Directed pairs (a contained in
    # b), exact arithmetic, deterministic slice; the verify-stage twin
    # for an LSH bucketed at scale exactly like the Jaccard one.
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)]) AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < 200)
    )
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           ROUND(LEN(list_intersect(a.grams, b.grams)) * 1.0 /
                 NULLIF(LEN(a.grams), 0), 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE LEN(list_intersect(a.grams, b.grams)) * 1.0 /
          NULLIF(LEN(a.grams), 0) >= 0.15
    """,
)
def dedup_ngram_containment_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = d.select(F.col("doc_id"), D.shingles("text", 3).alias("grams"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    cont = F.round(inter / F.nullif(F.size(F.col("a.grams")), F.lit(0)), 6)
    return (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_small"),
            F.col("b.doc_id").alias("id_big"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= 0.15)
    )


@query(
    "dedup_jaccard_prefix_join",
    # EXACT set-similarity self-join at τ = 0.9 — the AllPairs/PPJoin
    # prefix-filter shape. The oracle is deliberately BRUTE FORCE
    # (all-pairs on the slice): the Spark side generates candidates
    # only from document-frequency-ordered prefix tokens plus the
    # AllPairs length bound, so a hash match proves the pruning loses
    # NO true pair — the exactness guarantee MinHash banding cannot
    # make. Threshold test is integer cross-multiplied on both engines
    # (10·|∩| >= 9·|∪|); jaccard is rounded for display only. The
    # oracle excludes zero-token docs explicitly (10·0 >= 9·0 is true
    # with NULL jaccard) because the prefix join can never emit them —
    # empty token sets generate no prefix rows (round-6 advice: keeps
    # the degenerate case agreed on both engines for any fixture).
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                       x -> x <> '')) AS toks
      FROM documents WHERE doc_id < 1000
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(LEN(list_intersect(a.toks, b.toks)) * 1.0 /
                 NULLIF(LEN(list_distinct(list_concat(a.toks, b.toks))), 0), 6)
             AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE LEN(a.toks) > 0 AND LEN(b.toks) > 0
      AND 10 * LEN(list_intersect(a.toks, b.toks)) >=
          9 * LEN(list_distinct(list_concat(a.toks, b.toks)))
    """,
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return D.jaccard_prefix_join(d, "text", "doc_id", tau_num=9, tau_den=10)


@query(
    "dedup_fuzzy_blocked",
    # COMPOSITE-blocked fuzzy matching over the WHOLE corpus — the scale
    # form of the dedup_fuzzy_levenshtein slice kernel. The match
    # predicate (the operator's record-linkage CONTRACT, both engines):
    # same first token AND |n_chars_a − n_chars_b| <= 2 AND
    # edit-distance of the 40-char prefixes <= 22. Blocking key is
    # (first_token, floor(n_chars/3)) with each side probing its own
    # and the two adjacent length buckets — the equi-join key carries
    # BOTH predicate dimensions, so candidates are same-token banded
    # neighbors, never the n² pair space. Round-7 change (VERDICT r6
    # item 3): the previous length-ONLY key was the suite's one
    # quadratic-blowup risk — real corpora skew hard on length, and one
    # ±2-char band can hold millions of docs with an all-pairs join
    # inside it. A content dimension in the key bounds block size by
    # token frequency × length band (measured 30× candidate reduction
    # at sf0.1: 123 706 → 4 136; skewed 10× tier in SCALE.md). An edit
    # threshold of 22/40 is too loose for pigeonhole (PassJoin-style)
    # content segments to be lossless, so the content condition lives
    # in the CONTRACT — the standard blocking discipline in record
    # linkage — rather than silently dropping pairs. The oracle is
    # deliberately unblocked brute force over the same predicate: a
    # hash match proves the blocking loses no pair the contract admits.
    # Exact integer metric throughout.
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars, SUBSTRING(text, 1, 40) AS prefix,
             COALESCE(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                  x -> x <> '')[1], '') AS tok0
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE a.tok0 = b.tok0
      AND ABS(a.n_chars - b.n_chars) <= 2
      AND levenshtein(a.prefix, b.prefix) <= 22
    """,
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_blocked_pairs(spark, sf_dir)


def _fuzzy_blocked_pairs(
    spark: SparkSession,
    sf_dir: str,
    probe_max: int | None = None,
    home_max: int | None = None,
    home_min: int | None = None,
) -> DataFrame:
    """Composite-blocked fuzzy match pairs (the dedup_fuzzy_blocked
    contract), shared with the entity-resolution capstones: returns
    (id_a, id_b, edit_distance) for every pair with equal first token,
    |Δn_chars| <= 2, and 40-char-prefix edit distance <= 22.

    The optional id bounds restrict the probe (exploded, smaller-id)
    and home (larger-id) sides — the incremental-ER decomposition:
    old-old edges = (probe<=T, home<=T); edges touching a new doc =
    (home>T) alone, because ids are assigned monotonically so the
    LARGER endpoint of any pair with a new member is itself new."""
    tok0 = F.coalesce(
        F.element_at(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""),
            1,
        ),
        F.lit(""),
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.substring("text", 1, 40).alias("prefix"),
        tok0.alias("tok0"),
    )
    # Each row emits its own length block plus both neighbors; joining
    # on (tok0, PROBE block id) finds every same-token pair within
    # +-2 chars exactly once after the (id_a < id_b) + exact-length
    # filter dedupes. One shuffle, keyed by the composite block.
    blocked = d.select(
        "doc_id",
        "n_chars",
        "prefix",
        "tok0",
        F.explode(
            F.array(
                (F.floor(F.col("n_chars") / 3) - 1),
                F.floor(F.col("n_chars") / 3),
                (F.floor(F.col("n_chars") / 3) + 1),
            )
        ).alias("blk"),
    )
    home = d.withColumn("blk", F.floor(F.col("n_chars") / 3))
    if probe_max is not None:
        blocked = blocked.filter(F.col("doc_id") <= probe_max)
    if home_max is not None:
        home = home.filter(F.col("doc_id") <= home_max)
    if home_min is not None:
        home = home.filter(F.col("doc_id") >= home_min)
    # Salt the composite key (round 9): block occupancy is BOUNDED by
    # design, but a dominant token's blocks all hash near each other
    # and the per-key output is quadratic in occupancy — the
    # levenshtein kernel (~24 us/pair) then runs on a handful of SMJ
    # tasks while 28 cores idle (measured: 394 s at the 10x token-skew
    # tier with 60% of docs sharing tok0; AQE skew-join never fires
    # because it watches INPUT bytes, not join fan-out). Each probe row
    # takes ONE deterministic salt, the home side replicates across all
    # SALT values, so every pair still meets exactly once and the pair
    # set is unchanged — but each hot key splits into SALT schedulable
    # units. Home shuffle volume grows SALT x (ids + 40-char prefixes
    # only; text never shuffles) — noise next to the kernel win.
    SALT = 16
    blocked = blocked.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(SALT)))
    home = home.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    # Parallelism floor (round 9): when the probe side broadcasts, the
    # join's task count collapses to the HOME side's parquet scan
    # splits (measured: 4-8 tasks grinding the whole kernel while 28
    # cores idled — the capstone's actual 884 s wall; salting alone
    # could not help because a broadcast join has no per-key tasks).
    # One cheap shuffle of the narrow home rows (ids + 40-char
    # prefixes, never text) pins the stream-side parallelism to the
    # session's shuffle partitioning regardless of input file layout.
    home = home.repartition("tok0", "blk", "salt")
    a, b = blocked.alias("a"), home.alias("b")
    # No distinct: a pair can match in AT MOST one (block, salt) — the
    # home side replicates across salts but the probe row carries ONE
    # salt, and of the probe's three exploded blocks exactly one can
    # equal the home block — so the join output is already pair-unique
    # (a redundant .distinct() here used to shuffle every candidate
    # row: 39.6M x ~100 B at the 10x token-skew tier).
    #
    # The levenshtein kernel runs ONCE per candidate, inside the join
    # condition: the THRESHOLDED form returns -1 above the cap and the
    # exact distance at or below it, so a single `>= 0` comparison IS
    # the <= 22 contract — writing the filter over a projected alias
    # instead gets pushed into the join condition as TWO kernel calls
    # per pair (observed in the formatted plan). The cheap residuals
    # (id order, length band) sit before it in the conjunction and
    # short-circuit; the output column recomputes the distance only
    # for the ~13k survivors.
    lev = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 22)
    cand = a.join(
        b,
        (F.col("a.tok0") == F.col("b.tok0"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 2)
        & (lev >= 0),
    )
    return cand.select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        lev.cast("int").alias("edit_distance"),
    )


# The brute-force match-pair CTE shared by the ER capstone oracle —
# the same predicate as dedup_fuzzy_blocked's oracle, corpus-wide.
_ER_EDGES_CTE = """
    s AS (
      SELECT doc_id, n_chars, SUBSTRING(text, 1, 40) AS prefix,
             COALESCE(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                  x -> x <> '')[1], '') AS tok0
      FROM documents
    ),
    e AS (SELECT a.doc_id AS u, b.doc_id AS v
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE a.tok0 = b.tok0
            AND ABS(a.n_chars - b.n_chars) <= 2
            AND levenshtein(a.prefix, b.prefix) <= 22),
    edges AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    reach(v, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT edges.v, reach.lbl FROM reach JOIN edges ON edges.u = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(lbl) AS component FROM reach GROUP BY v)
"""


def _golden_records(docs: DataFrame, labeled: DataFrame) -> DataFrame:
    """The shared ER survivorship rollup: docs (doc_id, n_chars) x a
    (doc_id, entity_id) label frame -> one golden record per entity.
    Both the full-recompute capstone and the incremental path MUST
    emit byte-identical golden records (they share _ER_ORACLE
    verbatim) — keeping the rollup structural makes that contract a
    compile-time fact, not a convention."""
    return (
        docs.join(labeled, "doc_id", "left")
        .select(
            F.coalesce("entity_id", "doc_id").alias("entity_id"), "n_chars"
        )
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


_ER_ORACLE = f"""
WITH RECURSIVE {_ER_EDGES_CTE}
SELECT COALESCE(c.component, d.doc_id) AS entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(d.n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(d.n_chars) AS BIGINT) AS max_chars
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
GROUP BY 1
"""


@query(
    "pipeline_entity_resolution",
    # The END-TO-END entity-resolution capstone (Fellegi–Sunter shape,
    # public record-linkage literature): composite blocking
    # (first_token × length band) → candidate scoring (exact integer
    # levenshtein on 40-char prefixes) → transitive closure over match
    # pairs (connected_components_auto — propagation with star-rewiring
    # fallback) → golden-record summary, one row per resolved entity
    # with its min-id as entity key. Singleton docs (no match edge) are
    # their own entity via a left join against the component map.
    # Corpus-wide, no doc_id slice: the round-7 composite blocking key
    # is what makes that affordable (SCALE.md skew tier) — candidates
    # are bounded by token-frequency × band occupancy, text never
    # shuffles (only 40-char prefixes and ids move), and the closure
    # runs on the match-pair graph, which is orders smaller than the
    # corpus. Oracle: brute-force pairs + WITH RECURSIVE reachability —
    # the hash match proves blocking, scoring, closure, and
    # survivorship all at once.
    oracle=_ER_ORACLE,
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _fuzzy_blocked_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = D.connected_components_auto(edges)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = comp.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("entity_id")
    )
    return _golden_records(docs, labeled)


@query(
    "dedup_sorted_neighborhood",
    # Sorted-neighborhood candidate generation (Hernandez & Stolfo
    # 1995) — the OTHER classic record-linkage candidate method beside
    # key blocking, complementary to dedup_fuzzy_blocked: the sliding
    # window catches near-pairs that straddle a block boundary;
    # blocking catches pairs whose sort keys diverge in the first
    # characters. Sort by the lowercased 16-char key (id tie-break =
    # total order), compare each record to its 8 successors, keep
    # 40-char-prefix edit distance <= 22.
    #
    # Scale shape: the global rank is the two-pass range-partition +
    # local row_number + offset composition (operators/dedup.py:
    # global_rank — NO single-partition global window); candidates are
    # an equi-join on rank+offset moving only (id, 40-char prefix)
    # rows; text never shuffles. The oracle re-derives the identical
    # total order with ROW_NUMBER, proving the distributed rank
    # equals the sequential one.
    oracle="""
    WITH s AS (
      SELECT doc_id, LOWER(SUBSTRING(TRIM(text), 1, 16)) AS k,
             SUBSTRING(text, 1, 40) AS prefix
      FROM documents),
    r AS (
      SELECT doc_id, prefix,
             ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rnk
      FROM s)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
    FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 8
    WHERE levenshtein(a.prefix, b.prefix) <= 22
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.sorted_neighborhood_pairs(
        d, "text", "doc_id", key_chars=16, window=8, prefix_chars=40,
        max_edit=22,
    )


@query(
    "pipeline_entity_resolution_incremental",
    # The MAINTENANCE path of the ER capstone — nightly-ingest shape:
    # the standing corpus (doc_id <= 80% cutoff, the
    # dedup_incremental_batch convention) has its entities resolved
    # already; the new batch adds only (a) match edges touching a new
    # doc (home side > cutoff — ids are monotone, so the larger
    # endpoint of any pair with a new member is new) and (b) a
    # connected-components pass over the CONTRACTED graph whose
    # vertices are yesterday's entity labels + new doc ids. Because
    # old labels are component MINIMA and new ids exceed the cutoff,
    # contraction preserves the global min label — so the ORACLE IS
    # THE FULL-RECOMPUTE CAPSTONE'S, verbatim: the hash match proves
    # increment == recompute, the invariant that lets a 100 TB corpus
    # resolve a daily batch without touching old-old pairs again.
    #
    # Scale shape: the blocking join's probe side stays corpus-wide
    # but the HOME side is batch-sized (candidates ~ batch x block
    # occupancy, not corpus²); the closure runs on supernodes (orders
    # smaller than the corpus); the old component map at scale is a
    # stored table, recomputed here only because the fixture has no
    # persisted state.
    oracle=_ER_ORACLE,
)
def pipeline_entity_resolution_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cut_row = d.agg(
        (F.max("doc_id") * 4 / 5).cast("long").alias("c")
    ).first()["c"]
    # Empty corpus: MAX is NULL; cutoff 0 degrades gracefully (no old
    # side, everything "new") and keeps parity with the capstone's
    # empty result rather than raising.
    cutoff = int(cut_row) if cut_row is not None else 0
    old_edges = _fuzzy_blocked_pairs(
        spark, sf_dir, probe_max=cutoff, home_max=cutoff
    ).select("id_a", "id_b")
    old_comp = D.connected_components_auto(old_edges).withColumnRenamed(
        "vertex", "doc_id"
    )
    inc_edges = _fuzzy_blocked_pairs(
        spark, sf_dir, home_min=cutoff + 1
    ).select("id_a", "id_b")
    # Only the id_a endpoint can be OLD (home side is all-new by the
    # decomposition and old_comp holds vertices <= cutoff only), so a
    # single left join contracts the graph; id_b keeps its own id and
    # coalesce(comp_a, id_a) != id_b always holds (labels <= cutoff <
    # id_b).
    ca = old_comp.select(
        F.col("doc_id").alias("id_a"), F.col("component").alias("comp_a")
    )
    contracted = inc_edges.join(ca, "id_a", "left").select(
        F.coalesce("comp_a", "id_a").alias("id_a"), "id_b"
    )
    comp2 = D.connected_components_auto(contracted).withColumnRenamed(
        "vertex", "label"
    )
    docs = d.select("doc_id", "n_chars")
    lab1 = docs.join(old_comp, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("component", "doc_id").alias("label"),
    )
    labeled = lab1.join(comp2, "label", "left").select(
        "doc_id",
        F.coalesce("component", "label").alias("entity_id"),
    )
    return _golden_records(docs, labeled)


@query(
    "dedup_template_mask",
    # Template mining (the Drain / log-template shape) over the event
    # stream: an event's rendered line (event_type + its JSON props)
    # with every digit run masked to '#' is its TEMPLATE — the 10k raw
    # events collapse to one template per event type while the raw
    # fingerprints stay 100-way distinct, which is exactly the
    # log-aggregation win (group the stream's infinite value noise
    # into its finite message shapes). n_raw_distinct counts the raw
    # variants each template unified; exemplar is the smallest
    # event_id. Scale: one scan computes both fingerprints; the
    # shuffle carries (masked_sha, raw_sha, event_id, user_id) — the
    # rendered line never leaves its scan (the dedup_exact
    # discipline).
    oracle="""
    WITH fp AS (
      SELECT event_id, user_id,
             sha256(REGEXP_REPLACE(REGEXP_REPLACE(
                      LOWER(CONCAT_WS(' ', event_type, props)), '[0-9]+', '#', 'g'),
                    '\\s+', ' ', 'g')) AS masked_sha,
             sha256(REGEXP_REPLACE(LOWER(CONCAT_WS(' ', event_type, props)),
                    '\\s+', ' ', 'g')) AS raw_sha
      FROM events
    )
    SELECT masked_sha AS template_id,
           CAST(COUNT(*) AS BIGINT) AS n_instances,
           CAST(COUNT(DISTINCT raw_sha) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(event_id) AS BIGINT) AS exemplar_event_id
    FROM fp GROUP BY masked_sha
    HAVING COUNT(*) >= 2
    """,
)
def dedup_template_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    line = F.lower(F.concat_ws(" ", F.col("event_type"), F.col("props")))
    masked = F.regexp_replace(
        F.regexp_replace(line, "[0-9]+", "#"), r"\s+", " "
    )
    raw = F.regexp_replace(line, r"\s+", " ")
    fp = ev.select(
        "event_id",
        "user_id",
        F.sha2(masked, 256).alias("masked_sha"),
        F.sha2(raw, 256).alias("raw_sha"),
    )
    return (
        fp.groupBy(F.col("masked_sha").alias("template_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_instances"),
            F.countDistinct("raw_sha").cast("long").alias("n_raw_distinct"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("event_id").cast("long").alias("exemplar_event_id"),
        )
        .filter(F.col("n_instances") >= 2)
    )
