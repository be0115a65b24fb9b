"""Text-analysis operators for the documents table (north-star set).

All expressions are built-in column functions — language ID, quality
scoring, token counting, and fingerprinting run inside whole-stage
codegen, no Python in the loop. That is the property that lets these
run as a single scan over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small: the point is the *plumbing* (a
# scan-time scoring expression); swap in real lists for production.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "les"],
}


def tokens(col: str | Column, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization; empty strings filtered (split artifacts)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), pattern), lambda x: x != "")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: str | Column, stopwords: list[str]) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, F.lower(x))))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def digit_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(F.length(c) > 0, n_digit / F.length(c)).otherwise(F.lit(0.0))


def mean_word_len(col: str | Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: str | Column) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punct/digit
    noise, sane mean word length. Gopher/C4-style filters, distilled."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_ok = F.when(n_tok >= 10, F.lit(1.0)).otherwise(n_tok / F.lit(10.0))
    punct_ok = 1.0 - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    digit_ok = 1.0 - F.least(digit_ratio(c) * 5.0, F.lit(1.0))
    mwl = mean_word_len(c)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + digit_ok + mwl_ok) / 4.0


def langid_hits_struct(col: str | Column) -> Column:
    """struct(h_<lang>... , n): per-language stopword hit counts plus the
    token count, from ONE tokenization and ONE pass over the tokens.

    The per-language form re-evaluated ``tokens(col)`` (trim + regex
    split + filter) once per language — HOF arguments get no common-
    subexpression elimination (optimization r15, guide §1.2: the vote
    expression alone measured 1.48 → 0.79 s at sf0.1). Callers that
    need several of (prediction, per-lang hits, max hits, token count)
    should select THIS struct into a column first and derive from it,
    or they pay one fold per reference."""
    langs = sorted(STOPWORDS)  # deterministic field order
    init = F.struct(
        *[F.lit(0).alias(f"h_{lang}") for lang in langs],
        F.lit(0).alias("n"),
    )

    def _step(acc, x):
        lx = F.lower(x)
        return F.struct(
            *[
                (
                    acc[f"h_{lang}"]
                    + F.when(
                        F.array_contains(
                            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
                            lx,
                        ),
                        1,
                    ).otherwise(0)
                ).alias(f"h_{lang}")
                for lang in langs
            ],
            (acc["n"] + 1).alias("n"),
        )

    return F.aggregate(tokens(col), init, _step)


def langid_vote_from_hits(hits: Column) -> Column:
    """Argmax language from a :func:`langid_hits_struct` value — most
    hits wins, 'und' when nothing matches, deterministic tie-break by
    language code order (strictly-greater keeps the earlier code)."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(STOPWORDS):
        h = hits[f"h_{lang}"]
        is_better = h > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, h).otherwise(best_hits)
    return best_lang


def langid_stopword_votes(col: str | Column) -> Column:
    """Language-ID heuristic: most stopword hits wins; 'und' (undetermined)
    when nothing matches. Deterministic tie-break by language code order."""
    return langid_vote_from_hits(langid_hits_struct(col))


def fingerprint_sha(col: str | Column) -> Column:
    """Content fingerprint: sha256 over whitespace-normalized lowercase text.
    Exact-dedup key; hex string matches any engine's sha256."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.sha2(normalized, 256)


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016, arXiv:1508.07909) — the
# canonical tokenizer-training loop, re-expressed Spark-first.
# ---------------------------------------------------------------------------

BPE_SEP = "\x1f"  # unit separator between symbols; never occurs in fixtures


def bpe_word_freq(df, text_col: str = "text"):
    """(symbols, freq): distinct lowercased whitespace tokens with
    corpus frequency, each rendered as its characters joined by
    BPE_SEP. This is the ONLY corpus-scale shuffle in BPE training —
    every merge round after it runs on the vocabulary table (Zipf: ≪
    corpus), the same train-on-aggregate shape as the unigram LM."""
    tok = F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    sym = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("tok")),
            lambda i: F.substring(F.col("tok"), i, F.lit(1)),
        ),
        BPE_SEP,
    )
    return (
        df.select(tok)
        .groupBy(sym.alias("symbols"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _pair_counts(words):
    """Adjacent-symbol pair counts weighted by word frequency. slice
    keeps length-0 arrays for 1-symbol words (sequence(1, 0) would
    yield a DESCENDING [1, 0] — the Spark footgun this avoids)."""
    pairs = F.expr(
        f"arrays_zip(slice(split(symbols, '{BPE_SEP}'), 1,"
        f"                  size(split(symbols, '{BPE_SEP}')) - 1),"
        f"           slice(split(symbols, '{BPE_SEP}'), 2,"
        f"                  size(split(symbols, '{BPE_SEP}')) - 1))"
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .select(
            F.col("p")["0"].alias("left_sym"),
            F.col("p")["1"].alias("right_sym"),
            "freq",
        )
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_count"))
    )


def bpe_fit(spark, df, text_col: str = "text", merges: int = 6):
    """Learn ``merges`` BPE merge rules; returns (merge_rows, words)
    where merge_rows is the [(round, left, right, count)] driver-state
    merge table and ``words`` is the final vocabulary frame
    (symbols, freq) with every learned merge applied — the encoder's
    lookup table (a word's BPE token count is its symbol count here).

    Each round: count adjacent pairs over the vocab (one vocab-keyed
    shuffle with map-side combine), take the argmax under the pinned
    (count DESC, left ASC, right ASC) tie-break — ONE row of driver
    model state — and apply it with a literal string replace (leftmost
    non-overlapping, the greedy BPE rule, identical in Java and
    DuckDB). localCheckpoint truncates lineage per round (the
    graph-family discipline) so plan size stays O(1) in rounds.

    Exactness: integer frequencies, string equality, pinned ties —
    no floats anywhere, so the full iterative result carries a full
    DuckDB oracle (bpe_oracle_sql)."""
    words = bpe_word_freq(df, text_col).localCheckpoint(eager=True)
    out = []
    for t in range(1, merges + 1):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .first()
        )
        if top is None:
            break
        l, r = top["left_sym"], top["right_sym"]
        out.append((t, l, r, int(top["pair_count"])))
        words = words.select(
            _apply_merge_expr(l, r).alias("symbols"), "freq"
        ).localCheckpoint(eager=True)
    return out, words


def _apply_merge_expr(l: str, r: str) -> Column:
    """Apply ONE merge rule to a sep-joined symbol string with exact
    canonical greedy left-to-right semantics: fold over the symbol
    array, appending r's characters to the accumulator whenever its
    LAST COMPLETE SYMBOL equals l and the next symbol equals r. The
    accumulator keeps a leading separator so the last-symbol test is a
    single anchored endswith — a plain string REPLACE is wrong here
    (round-7 review finding: the unanchored pattern matched the SUFFIX
    of a longer symbol, merging across symbol boundaries; e.g. with
    symbols [ab, z] the rule (b, z) must NOT fire). A freshly merged
    symbol can itself be the left of the next merge (l || r != l, so
    the endswith test naturally allows exactly the canonical cases).
    """
    arr = F.split(F.col("symbols"), BPE_SEP)
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    out = F.aggregate(
        rest,
        F.concat(F.lit(BPE_SEP), F.element_at(arr, 1)),
        lambda acc, x: F.when(
            F.endswith(acc, F.lit(BPE_SEP + l)) & (x == F.lit(r)),
            F.concat(acc, F.lit(r)),
        ).otherwise(F.concat(acc, F.lit(BPE_SEP), x)),
    )
    return F.substring(out, 2, F.length(out))


def bpe_train(spark, df, text_col: str = "text", merges: int = 6):
    """The merge-table artifact of bpe_fit as a DataFrame: one row per
    learned rule (merge_round, left_sym, right_sym, pair_count)."""
    out, _ = bpe_fit(spark, df, text_col, merges)
    return spark.createDataFrame(
        out, "merge_round int, left_sym string, right_sym string, pair_count long"
    )


def bpe_oracle_ctes(
    table: str = "documents", text_col: str = "text", merges: int = 6
) -> str:
    """The unrolled training CTE chain (w0..wN vocab states, m1..mN
    merge picks) shared by the train and encode oracles
    (MATERIALIZED — chained CTE inlining is exponential otherwise,
    the k-core lesson)."""
    # WITH RECURSIVE: the per-round merge application is a recursive
    # left-to-right scan over each word's symbol list — the EXACT
    # canonical greedy (accumulator keeps a leading separator; the
    # last-symbol test is one anchored ends_with; a merge appends the
    # right symbol's characters). The previous REPLACE formulation
    # shared the engine's boundary-crossing bug (round-7 review
    # finding) — this one is independently derived from the rule. A
    # round whose m{t} is empty (merges exhausted) yields NULL scalar
    # subqueries, the CASE condition is NULL -> ELSE, and the vocab
    # carries forward unchanged, matching bpe_fit's loop break.
    parts = [
        f"""WITH RECURSIVE w0 AS MATERIALIZED (
  SELECT symbols, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT array_to_string(
             list_transform(range(1, LENGTH(tok) + 1), i -> tok[i]),
             chr(31)) AS symbols
    FROM (SELECT UNNEST(list_filter(
                   string_split_regex(TRIM(LOWER({text_col})), '\\s+'),
                   x -> x <> '')) AS tok
          FROM {table}))
  GROUP BY symbols),"""
    ]
    for t in range(1, merges + 1):
        p = t - 1
        parts.append(
            f"""p{t} AS MATERIALIZED (
  SELECT p['l'] AS left_sym, p['r'] AS right_sym,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT UNNEST(list_transform(range(1, LEN(a)),
                 i -> {{'l': a[i], 'r': a[i + 1]}})) AS p, freq
        FROM (SELECT string_split(symbols, chr(31)) AS a, freq FROM w{p}))
  GROUP BY 1, 2),
m{t} AS MATERIALIZED (
  SELECT left_sym, right_sym, pair_count FROM p{t}
  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
s{t} AS MATERIALIZED (
  SELECT symbols, string_split(symbols, chr(31)) AS a, freq FROM w{p}),
r{t} AS (
  SELECT symbols, 1 AS i, LEN(a) AS n, chr(31) || a[1] AS out, freq
  FROM s{t}
  UNION ALL
  SELECT rr.symbols, rr.i + 1, rr.n,
         CASE WHEN ends_with(rr.out,
                             chr(31) || (SELECT left_sym FROM m{t}))
                   AND ss.a[rr.i + 1] = (SELECT right_sym FROM m{t})
              THEN rr.out || (SELECT right_sym FROM m{t})
              ELSE rr.out || chr(31) || ss.a[rr.i + 1] END,
         rr.freq
  FROM r{t} rr JOIN s{t} ss USING (symbols) WHERE rr.i < rr.n),
w{t} AS MATERIALIZED (
  SELECT substring(out, 2) AS symbols, freq FROM r{t} WHERE i = n),"""
        )
    return "\n".join(parts).rstrip(",")


def bpe_oracle_sql(
    table: str = "documents", text_col: str = "text", merges: int = 6
) -> str:
    """Unrolled-CTE DuckDB oracle for bpe_train."""
    body = bpe_oracle_ctes(table, text_col, merges)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INT) AS merge_round, left_sym, right_sym,"
        f" pair_count FROM m{t}"
        for t in range(1, merges + 1)
    )
    return f"{body}\n{union}"


def url_host(col: Column) -> Column:
    """Canonical host of a URL: lowercased, leading ``www.`` and default
    ports (:80/:443) stripped. Pure regexp — RE2-compatible (no
    lookaround) so the DuckDB oracle runs the identical pattern."""
    h = F.lower(F.regexp_extract(col, "^[a-zA-Z]+://([^/?#]+)", 1))
    h = F.regexp_replace(h, r"^www\.", "")
    return F.regexp_replace(h, ":(443|80)$", "")


def canonicalize_url(col: Column) -> Column:
    """URL canonicalization — the C4/CommonCrawl prefilter step that
    runs BEFORE any content dedup: a corpus keyed by raw URL string
    counts ``HTTPS://WWW.Site.com:443/a/?utm_source=x#top`` and
    ``https://site.com/a`` as different pages. Normalizes scheme to
    https, lowercases the host, strips ``www.``, default ports,
    ``utm_*`` tracking params, fragments, and trailing slashes.
    Everything is built-in regexp/string ops (JVM codegen, no UDF) and
    every pattern is RE2-safe, so the same expressions run in DuckDB.
    """
    host = url_host(col)
    path = F.regexp_extract(col, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    # Anchored through the pre-fragment prefix: an unanchored \?([^#]*)
    # would extract a "query" from inside the fragment of a URL like
    # /a#sec?x=1 (legal: '#' before '?'), splitting fragment-identical
    # pages into different dedup keys (code-review r15).
    q = F.regexp_extract(col, r"^[^#]*\?([^#]*)", 1)
    q = F.regexp_replace(q, "(^|&)utm_[a-z]+=[^&]*", "")
    q = F.regexp_replace(q, "^&", "")
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)),
    )
