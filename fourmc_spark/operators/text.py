"""Text-analysis operators for training-data pipelines.

Most scoring/statistics operators are built-in column expressions
(JVM-side, codegen-friendly): language ID (stopword voting), quality
scoring, token statistics, document fingerprinting (rolling polynomial
hash). Where dense per-doc compute earns Python, the operator is one
per-row kernel under :func:`._rows._map_rows` (``repetition_stats``,
``char_entropy``, ``bpe_encode``); ``heavy_hitters`` keeps a
per-partition ``mapInPandas`` sketch. The BPE tokenizer lifecycle
(learn/encode) reduces the corpus to a vocab-sized model in one pass,
then works driver-side/broadcast. Deterministic by construction so
every operator is oracle-checkable in DuckDB.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from fourmc_spark.functions import (
    HASH_PRIME,
    shingles_spark,
    token_hash_spark,
    tokens_spark,
)
from fourmc_spark.operators._rows import _map_rows

__all__ = [
    "STOPWORDS",
    "EMAIL_RE",
    "PHONE_RE",
    "lang_id",
    "quality_score",
    "token_stats",
    "fingerprint",
    "repetition_stats",
    "char_entropy",
    "pii_redact",
    "tfidf_topk",
    "bm25_topk",
    "vocab_coverage",
    "bpe_pair_stats",
    "inverted_index",
    "unigram_logprob",
    "bigram_logprob",
    "hashed_classifier_score",
    "c4_line_clean",
    "winnow_fingerprints",
    "bpe_learn",
    "bpe_encode",
    "heavy_hitters",
    "mg_reduce",
]

# tiny per-language stopword vocabularies (public common words)
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他"],
}


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic n-gram/stopword language ID: count stopword hits per
    language, argmax with alphabetical tiebreak. Map-only (no shuffle)."""
    toks = tokens_spark(text_col)
    score_cols = []
    for lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            F.expr(
                f"size(filter({toks}, t -> array_contains(array({words}), t)))"
            ).cast("long").alias(f"score_{lang}")
        )
    scored = df.select(F.col(id_col), F.col(text_col), *score_cols)
    # argmax via greatest + case (ties resolved by language order)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        id_col, *[f"score_{l}" for l in langs], pred.alias("pred_lang")
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic quality features + composite score.

    n_chars, n_tokens, avg token length, alpha ratio, distinct-token ratio,
    and score = distinct_ratio * min(n_tokens, 64) / 64 rounded to 4.
    All arithmetic on exact ints then one final double division.
    ``extra_cols`` pass through unchanged (e.g. the source for per-group
    gating)."""
    extra = list(extra_cols or [])
    toks = tokens_spark(text_col)
    return df.select(
        F.col(id_col),
        *extra,
        F.length(text_col).cast("long").alias("n_chars"),
        F.expr(f"size({toks})").cast("long").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").cast("long").alias("n_distinct"),
        F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", "")).cast("long").alias("n_alpha"),
    ).select(
        id_col,
        *extra,
        "n_chars",
        "n_tokens",
        "n_distinct",
        "n_alpha",
        F.round(F.col("n_alpha") / F.col("n_chars"), 4).alias("alpha_ratio"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
        F.round(
            (F.col("n_distinct") / F.col("n_tokens"))
            * (F.least(F.col("n_tokens"), F.lit(64)) / F.lit(64.0)),
            4,
        ).alias("quality"),
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish word/number/punct pieces
    via one regex pass (the pretokenizer pattern used by BPE tokenizers)."""
    return df.select(
        F.col(id_col),
        F.expr(f"size(split({text_col}, '\\\\s+'))").cast("long").alias("n_ws_tokens"),
        F.expr(
            f"size(regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0))"
        ).cast("long").alias("n_bpe_pieces"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: rolling polynomial hash of the
    token-hash sequence, acc = (acc*31 + h) mod P. Map-only; intermediate
    values stay < 2^62 (ANSI-safe int64)."""
    toks = tokens_spark(text_col)
    th = token_hash_spark("t")
    return df.select(
        F.col(id_col),
        F.expr(
            f"aggregate(transform({toks}, t -> {th}), CAST(0 AS BIGINT), "
            f"(acc, h) -> (acc * 31 + h) % {HASH_PRIME})"
        ).alias("fingerprint"),
    )


def _round_half_up4(x: float) -> float:
    """Spark/DuckDB-compatible round(double, 4): HALF_UP on the shortest
    decimal rendering of the double (Java BigDecimal.valueOf semantics —
    Python's bare round() is banker's and flips exact .xxxx5 ties like
    1 - 1/32 = 0.03125 the other way)."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition features: fraction of duplicate tokens /
    bigrams / trigrams, plus the most-frequent-token share. Map-only (no
    shuffle), one per-row kernel under :func:`_map_rows`: hash-set
    distinct counts are C-speed dict/set ops and every statistic is
    integer-derived (no float-order hazards), measured ~4x the
    interpreted higher-order-function plan it replaced."""

    def dup(n_items: int, n_distinct: int) -> float:
        return _round_half_up4(1.0 - n_distinct / n_items) if n_items else 0.0

    def row(did, text):
        # split(' ') keeps empty tokens exactly like Spark's split(col, ' ')
        # with its default -1 limit
        toks = ("" if text is None else text).split(" ")
        n = len(toks)
        counts = Counter(toks)
        top = max(counts.values())
        bi = set(zip(toks, toks[1:]))
        tri = set(zip(toks, toks[1:], toks[2:]))
        return [(did, n, dup(n, len(counts)), dup(n - 1, len(bi)),
                 dup(max(n - 2, 0), len(tri)), top,
                 _round_half_up4(top / n))]

    return _map_rows(
        df, [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_tokens long, dup_token_frac double, "
        "dup_bigram_frac double, dup_trigram_frac double, "
        "top_token_count long, top_token_frac double", row)


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Shannon character entropy per document (bits/char) — the classic
    cheap gibberish/boilerplate signal (random bytes score high, repeated
    boilerplate scores low; fluent prose sits in a narrow band).

    Map-only, no shuffle: one per-row kernel under :func:`_map_rows`,
    with a numpy ``bincount`` fast path for ASCII text (byte counts ARE
    sorted-char counts) and the entropy fold running sequentially over
    ascending char codes — the same left-to-right summation order as the
    DuckDB oracle's aggregate over the sorted distinct chars, so float
    drift can't flip the rounding.
    """

    def row(did, text):
        s = "" if text is None else text
        if not s:
            return [(did, 0, 0, 0.0)]
        if s.isascii():
            c = np.bincount(np.frombuffer(s.encode("ascii"), dtype=np.uint8))
            nz = c[c > 0].tolist()  # ascending byte value == sorted chars
        else:
            cnt = Counter(s)
            nz = [cnt[ch] for ch in sorted(cnt)]
        acc = 0.0
        for k in nz:
            p = k / len(s)
            acc -= p * math.log2(p)
        return [(did, len(s), len(nz), _round_half_up4(acc))]

    return _map_rows(
        df, [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_chars long, n_distinct_chars long, entropy_bits double", row)


# public-pattern PII regexes (RE2-safe: run identically under Java regex
# and DuckDB's RE2)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing for training corpora: count and redact email / phone
    patterns. The driver testdata contains no PII, so a deterministic
    contact line derived from ``doc_id`` is appended first — the scrub path
    is exercised on every row and stays oracle-checkable. Map-only."""
    enriched = F.concat(
        F.col(text_col),
        F.lit(" contact user"),
        F.col(id_col).cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col(id_col) % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(enriched, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(enriched, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(enriched, F.lit(PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by Okapi BM25 for a fixed query-term set — the
    classic lexical retrieval scorer (and the dense-retrieval baseline in
    any RAG/data-curation stack).

    idf(q) = ln(1 + (N - df_q + 0.5)/(df_q + 0.5)) (the Lucene variant,
    always positive); score(d) = Σ_q idf(q) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)). Scores round to 4 decimals before
    ranking so the ordering is engine-stable.

    Plan shape at scale: the explode is filtered to the query terms
    immediately (fan-out dies in the same stage), tf/df aggregate on
    (doc, term) — two partial-agg shuffles of matched terms only; N and
    avgdl arrive as a broadcast 1-row join. Two corpus scans (corpus
    stats + term match), zero corpus-size shuffles or joins.
    """
    toks = tokens_spark(text_col)
    stats = df.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg(F.expr(f"size({toks})")).alias("avgdl"),
    )
    # dl rides along through the explode (functionally dependent on the
    # doc id), so matched terms never rejoin a corpus-size relation
    terms = df.select(
        F.col(id_col),
        F.expr(f"size({toks})").cast("long").alias("dl"),
        F.explode(F.expr(toks)).alias("term"),
    ).where(F.col("term").isin(list(query_terms)))
    tf = terms.groupBy(id_col, "dl", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("dfq"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + F.lit(0.5)) / (F.col("dfq") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(idf * F.col("tf") * F.lit(k1 + 1.0) / norm), 4).alias(
                "bm25"
            ),
            F.count("*").cast("long").alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def vocab_coverage(
    df: DataFrame, top_v: int = 100, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary construction for tokenizer prep: the top-V terms by
    corpus frequency with each prefix's cumulative token coverage — the
    curve that decides a vocab size.

    Scale shape: term counting is a partial-agg shuffle of distinct terms;
    top-V selection is a distributed TakeOrderedAndProject (never a full
    sort); ONLY the V selected rows pass through the global-order window
    for the running total, so the single-partition window input is V
    rows, not the vocabulary. Coverage denominator (total tokens) joins
    as a broadcast 1-row aggregate.
    """
    toks = tokens_spark(text_col)
    terms = df.select(F.explode(F.expr(toks)).alias("term"))
    counts = terms.groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    total = terms.agg(F.count("*").cast("long").alias("total_tokens"))
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(top_v)
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_cnt", F.sum("cnt").over(w).cast("long"))
        .withColumn(
            "cum_coverage",
            F.round(F.col("cum_cnt") / F.col("total_tokens"), 6),
        )
        .select("rank", "term", "cnt", "cum_cnt", "cum_coverage")
        .orderBy("rank")
    )


def bpe_pair_stats(df: DataFrame, top_k: int = 50, text_col: str = "text") -> DataFrame:
    """Adjacent-token-pair frequencies — the statistic behind a BPE merge
    choice (the tokenizer-prep companion of :func:`vocab_coverage`: that
    curve sizes the vocabulary, this table seeds the merges).

    Scale shape: the pair fan-out dies in its own stage (explode feeds the
    partial aggregate directly), the shuffle carries distinct pairs with
    partial counts, and top-k plans a distributed TakeOrderedAndProject —
    never a total sort. Ties at rank k break on the pair string, so the
    cutoff is engine-stable.
    """
    # materialize tokens first (shingling a raw split() expression
    # re-tokenizes per element inside the lambda — quadratic per doc)
    pairs = shingles_spark("__toks", 2)
    return (
        df.select(F.expr(tokens_spark(text_col)).alias("__toks"))
        .select(F.explode(F.expr(pairs)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_k)
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the classic cheap fluency/gibberish filter
    (documents of rare or shuffled vocabulary score low; fluent text
    tracks the corpus distribution).

    Plan shape: one explode feeds both the unigram LM (term counts, one
    agg) and the per-doc scoring; terms rejoin their corpus counts on the
    term key (AQE broadcasts when the vocabulary is small), the 1-row
    corpus total joins via broadcast, then one per-doc agg. No Python
    anywhere.
    """
    toks = tokens_spark(text_col)
    terms = df.select(F.col(id_col), F.explode(F.expr(toks)).alias("term"))
    counts = terms.groupBy("term").agg(F.count("*").alias("term_n"))
    total = terms.agg(F.count("*").alias("corpus_n"))
    return (
        terms.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log(F.col("term_n") / F.col("corpus_n"))), 6
            ).alias("mean_logprob"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )


def tfidf_topk(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k terms by TF-IDF.

    The score is exact integer arithmetic — ``tf * (N*1_000_000 div df)``
    — monotonic in tf and 1/df, so cross-engine ranking never hinges on a
    float ulp. Two shuffles total (doc-term agg, term df agg); the 1-row
    corpus count joins via broadcast."""
    toks = tokens_spark(text_col)
    terms = df.select(
        F.col(id_col), F.explode(F.expr(toks)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # tf rows are distinct (doc, term): counting them per term = doc freq
    dfreq = tf.groupBy("term").agg(F.count("*").alias("docfreq"))
    total = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            (
                F.col("tf")
                * F.expr("(n_docs * CAST(1000000 AS BIGINT)) div docfreq")
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("docfreq").cast("long").alias("docfreq"),
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def inverted_index(
    df: DataFrame,
    max_postings: int = 20,
    min_docfreq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index construction: per term, document frequency, total
    term frequency, and a (capped) posting list of the lowest-id matching
    docs — the materialization behind :func:`bm25_topk`-style retrieval
    when the index is built once and queried many times.

    Scale shape: one explode feeding a (doc, term) partial+final hash agg
    (map-side combine kills intra-doc repeats before the shuffle), then
    one term-key agg. The posting cap is enforced INSIDE the aggregate —
    ``slice(array_sort(collect_list(..)))`` keeps only ``max_postings``
    ids per term — so a stop-word's posting list never materializes
    corpus-sized in the output (its df/tf stats stay exact). Terms are
    the shuffle key; hot terms are AQE-splittable for the stats, and the
    capped list bounds the final row width.
    """
    toks = tokens_spark(text_col)
    tf = (
        df.select(F.col(id_col), F.explode(F.expr(toks)).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("docfreq"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.slice(
                F.array_sort(F.collect_list(F.col(id_col))),
                1,
                max_postings,
            ).alias("postings"),
        )
        .where(F.col("docfreq") >= min_docfreq)
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own bigram model — the order-sensitive upgrade of
    :func:`unigram_logprob`: shuffled-but-plausible-vocabulary text
    scores low because p(b|a) collapses even when every unigram is
    common. Documents with fewer than two tokens are excluded.

    p(b|a) = C(a,b) / C_start(a), where C_start(a) counts bigrams
    starting with ``a`` — the conditional distribution over observed
    bigrams, so no smoothing constant to keep engines in sync.

    Plan shape: one in-stage transform builds bigram structs (no
    Python), one explode; corpus pair counts and start counts are two
    hash aggs; the scoring rejoins on (a, b) then (a) — both
    AQE-broadcastable for natural vocabularies — then one per-doc agg.
    Shuffles carry (pair, count) rows, bounded by observed-vocab², never
    the corpus.
    """
    # materialize the token array first: element_at on a raw split()
    # expression inside the lambda re-tokenizes per element (quadratic)
    bigrams = df.select(
        F.col(id_col), F.expr(tokens_spark(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) >= 2 THEN "
                "transform(sequence(1, size(__toks) - 1), "
                "i -> struct(element_at(__toks, i) AS a, "
                "element_at(__toks, i + 1) AS b)) "
                "ELSE array() END"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    pair_counts = bigrams.groupBy("a", "b").agg(F.count("*").alias("pair_n"))
    start_counts = bigrams.groupBy("a").agg(F.count("*").alias("start_n"))
    return (
        bigrams.join(pair_counts, ["a", "b"])
        .join(start_counts, ["a"])
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log(F.col("pair_n") / F.col("start_n"))), 6
            ).alias("mean_logprob"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
    )


def hashed_classifier_score(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.5) -> DataFrame:
    """Feature-hashed linear quality classifier — the fasttext-shaped
    model-based filtering stage of an LLM data pipeline (score each doc
    with a bag-of-words linear model, keep above a threshold).

    Weights come straight from the feature hash (``w(t) = h(t) % 1000 -
    500``, i.e. feature hashing with a derived weight table) so the model
    is deterministic and oracle-checkable; swapping in trained weights
    means replacing one expression with a broadcast-map lookup — the plan
    shape (map-only fold over the token array, no shuffle, no Python)
    is exactly what a production classifier uses at 100 TB. The logit
    accumulates in INTEGER milli-units, so summation order cannot
    perturb the float sigmoid input. Output:
    (id, n_tokens, logit_milli, score, keep).
    """
    h = token_hash_spark("t")
    logit = (
        f"aggregate({tokens_spark(text_col)}, CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + ({h} % 1000 - 500))"
    )
    packed = (
        f"inline(transform(array({logit}), lm -> struct("
        f"size({tokens_spark(text_col)}) AS n_tokens, "
        f"lm AS logit_milli, "
        f"round(1.0D / (1.0D + exp(-(lm / 1000.0D))), 6) AS score)))"
    )
    return df.select(F.col(id_col), F.expr(packed)).select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("logit_milli").cast("long").alias("logit_milli"),
        "score",
        (F.col("score") >= threshold).alias("keep"),
    )


def c4_line_clean(df: DataFrame, min_words: int = 5,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 rules, the
    public heuristics): keep only lines with >= ``min_words`` words that
    end in terminal punctuation; drop the whole document if it mentions
    "lorem ipsum" or contains a curly brace (code leakage). Documents in
    the corpus are single-line, so the per-line rule set is exercised by
    splitting on sentence boundaries is NOT attempted — the line unit is
    the newline, exactly as in C4.

    Map-only JVM expressions: one split, one filter fold, one re-join —
    no shuffle, no Python. Output keeps (id, kept_lines, n_lines_kept,
    n_lines_total, clean_text) for kept docs only.
    """
    lines = f"split({text_col}, '\\n')"
    kept = (
        f"filter({lines}, l -> size(split(trim(l), ' ')) >= {min_words} "
        f"AND trim(l) rlike '[.!?\"]$')"
    )
    out = (
        df.where(~F.lower(F.col(text_col)).contains("lorem ipsum"))
        .where(~F.col(text_col).contains("{"))
        .select(
            F.col(id_col),
            F.expr(f"size({lines})").cast("long").alias("n_lines_total"),
            F.expr(kept).alias("_kept"),
        )
        .withColumn("n_lines_kept", F.size("_kept").cast("long"))
        .where(F.col("n_lines_kept") > 0)
        .select(
            id_col,
            "n_lines_total",
            "n_lines_kept",
            F.array_join("_kept", "\n").alias("clean_text"),
        )
    )
    return out


def winnow_fingerprints(df: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): hash every ``k``-gram, slide a window of ``w``
    consecutive hashes, keep each window's MINIMUM. Guarantees: any match
    of length >= w+k-1 tokens between two documents shares at least one
    selected fingerprint, while only ~2/(w+1) of positions are kept — the
    local, position-robust dedup/plagiarism signal a full fingerprint set
    can't give at this density.

    Plan shape: posexplode the k-gram hashes, one window (partitioned by
    doc, ROWS CURRENT..w-1 FOLLOWING min) per doc, distinct, aggregate —
    a single doc-keyed shuffle; selected-value DISTINCT means ties need
    no positional tiebreak, so Spark and any SQL oracle agree exactly.
    Output: (id, n_grams, n_fingerprints, fp_min, fp_checksum) with
    ``fp_checksum`` = sum of distinct fingerprints mod P.
    """
    toks = tokens_spark(text_col)
    sh = shingles_spark("__toks", k)
    grams = (
        df.select(F.col(id_col), F.expr(toks).alias("__toks"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.expr(f"transform({sh}, g -> {token_hash_spark('g')})")
            ).alias("pos", "h"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    cnt = Window.partitionBy(id_col)
    fps = (
        grams.withColumn("_n", F.count(F.lit(1)).over(cnt))
        .withColumn("fp", F.min("h").over(win))
        # only full windows select (pos is 0-based; windows start at
        # pos <= n_grams - w)
        .where(F.col("pos") <= F.col("_n") - w)
        .select(id_col, "_n", "fp")
        .distinct()
    )
    return (
        fps.groupBy(id_col)
        .agg(
            F.max("_n").cast("long").alias("n_grams"),
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            F.min("fp").cast("long").alias("fp_min"),
            (F.sum("fp") % HASH_PRIME).cast("long").alias("fp_checksum"),
        )
    )


# loud-fail bound on the collected (word, freq) vocabulary — a model
# artifact (distinct word TYPES, not corpus tokens). Sized to what the
# training loop's DRIVER-side state actually costs, not just the collect:
# each word type carries a symbol list plus pair_counts/pair_words index
# entries (~1-2 KB/word measured), so 2M types ~= 2-4 GB of driver heap —
# safe on a default 8g driver, while 20M would pass a row-count guard and
# then OOM building the index. Web-scale corpora get under this with a
# min-frequency cut (which standard BPE training applies anyway).
BPE_MAX_VOCAB = 2_000_000


def _apply_merge(syms, left: str, right: str) -> list:
    """Left-to-right non-overlapping merge application — THE BPE merge
    rule ("aaa" + (a,a) -> [aa, a]). Single definition shared by
    training and encoding so the two can never desynchronize."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_learn(df: DataFrame, n_merges: int = 10, text_col: str = "text",
              end_marker: str = "</w>") -> DataFrame:
    """Learn a byte-pair-encoding merge table from the corpus (Sennrich
    et al. 2016) — the tokenizer-TRAINING step (``bpe_pair_stats`` is one
    round's statistic; this runs the full greedy loop).

    The real BPE training trick drives the scale shape: ONE distributed
    corpus pass reduces everything to a (word, frequency) table — that
    table is vocab-sized BY CONSTRUCTION (distinct word types, not
    corpus tokens — a model artifact like a centroid table; at web scale
    a min-frequency cut keeps it under the memory-sized loud-fail cap
    ``BPE_MAX_VOCAB``, which accounts for the driver-side pair index,
    not just the collected rows). The
    greedy merge loop then runs driver-side over that table with the
    classic incremental pair-index update (only words containing the
    merged pair are touched per round — Sennrich's own implementation
    strategy), so 100 TB costs one word-count aggregation regardless of
    n_merges, the logical plan depth is CONSTANT in n_merges (the old
    per-round mapInPandas chain grew the plan linearly — unanalyzable
    at real 32k-merge scale), and a 32k-merge run is pure driver CPU
    with no per-round Spark jobs.

    Deterministic: greedy argmax with a total tiebreak (count desc,
    then (left, right) asc). Iterative + stateful across rounds, hence
    no SQL oracle (rows-only at the gate, like k-means);
    ``tests/test_dedup.py`` pins it against an independent pure-Python
    reference implementation. Output: (rank, left, right, pair_count).
    """
    from collections import defaultdict

    spark = df.sparkSession
    wdf = (
        df.select(F.explode(F.expr(tokens_spark(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .persist()
    )
    try:
        # guard BEFORE collect — a count can't OOM the driver, the
        # collect of an unbounded vocab can
        n_types = wdf.count()
        if n_types > BPE_MAX_VOCAB:
            raise ValueError(
                f"bpe_learn: {n_types} distinct word types exceeds the "
                f"{BPE_MAX_VOCAB} driver guard — pre-filter the corpus "
                "(e.g. min word frequency) before training"
            )
        rows = wdf.collect()
    finally:
        wdf.unpersist()

    # symbols: characters + an end-of-word marker (standard BPE —
    # distinguishes "est</w>" from "est" mid-word)
    words: list[list] = [
        [list(r["w"]) + [end_marker], int(r["freq"])] for r in rows
    ]

    # incremental pair index: pair -> weighted count, pair -> word ids
    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)

    def _index(idx: int, sign: int) -> None:
        syms, freq = words[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] += sign * freq
            if sign > 0:
                pair_words[p].add(idx)
            elif pair_counts[p] <= 0:
                # pair occurs nowhere now — keep the argmax scan tight
                del pair_counts[p]
                pair_words.pop(p, None)

    for i in range(len(words)):
        _index(i, +1)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best, best_cnt = None, 0
        for p, c in pair_counts.items():
            if c > best_cnt or (c == best_cnt and best is not None and p < best):
                best, best_cnt = p, c
        if best is None:
            break
        left, right = best
        merges.append((left, right, int(best_cnt)))
        for idx in list(pair_words[best]):
            _index(idx, -1)
            words[idx][0] = _apply_merge(words[idx][0], left, right)
            _index(idx, +1)
        # the merged pair is gone everywhere; drop its index entries
        pair_counts.pop(best, None)
        pair_words.pop(best, None)

    return spark.createDataFrame(
        [
            (i + 1, l, r, c)
            for i, (l, r, c) in enumerate(merges)
        ],
        "rank long, left string, right string, pair_count long",
    )


def bpe_encode(df: DataFrame, merges, text_col: str = "text",
               id_col: str = "doc_id",
               end_marker: str = "</w>") -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table — the APPLY
    step pairing :func:`bpe_learn` (train -> encode -> count is the full
    tokenizer lifecycle).

    ``merges`` is the frame :func:`bpe_learn` returns (or a list of
    ``(rank, left, right)``). The merge table is a model artifact —
    collected and BROADCAST (n_merges rows); encoding is a map-only
    per-row kernel under :func:`_map_rows` with a word memo that lives
    for one task, so each distinct word pays the merge chain once per
    partition and the corpus never shuffles. Output: (id, tokens
    array<string>, n_tokens) — one row per document with at least one
    non-empty word, token order = word order x within-word symbol order.
    """
    if isinstance(merges, DataFrame):
        mrows = sorted(
            (int(r["rank"]), r["left"], r["right"]) for r in merges.collect()
        )
    else:
        mrows = sorted((int(a), b, c) for a, b, c in merges)
    bc = df.sparkSession.sparkContext.broadcast([(l, r) for _, l, r in mrows])
    memo: dict[str, tuple] = {}

    def enc_word(w: str) -> tuple:
        t = memo.get(w)
        if t is None:
            syms = list(w) + [end_marker]
            for left, right in bc.value:
                syms = _apply_merge(syms, left, right)
            t = memo[w] = tuple(syms)
        return t

    def row(did, text):
        doc = [t for w in ("" if text is None else text).split(" ") if w
               for t in enc_word(w)]
        # no non-empty word: no row, like the words-CTE inner join
        return [(did, doc, len(doc))] if doc else []

    return _map_rows(
        df, [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "tokens array<string>, n_tokens long", row)


#: merge fan-in for the distributed Misra-Gries reduction — a CONSTANT,
#: so the final single-partition merge sees <= MG_MERGE_PARTS*(m+1) rows
#: no matter how many partitions the corpus scan ran with.
MG_MERGE_PARTS = 32


def mg_reduce(counters: dict, m: int) -> dict:
    """THE Misra-Gries reduction: when more than ``m`` counters live,
    subtract the (m+1)-th-largest weight ``d`` from every counter and
    drop the non-positive ones, so at most ``m`` survive.

    This exact form carries the whole superset-guarantee proof shared
    by the batch sketch, the distributed merge, and the streaming
    keyed-state variant: each reduction destroys >= (m+1)*d total
    weight (at least m+1 counters hold >= d), and only N weight is ever
    inserted, so the SUM of all subtractions across any DAG of inserts
    and merges is <= N/(m+1) — every user must call this one kernel so
    the bound can never drift between paths (Agarwal et al., "Mergeable
    Summaries", PODS'12)."""
    if len(counters) > m:
        vals = sorted(counters.values(), reverse=True)
        d = vals[m]  # (m+1)-th largest
        counters = {t: c - d for t, c in counters.items() if c - d > 0}
    return counters


def _mg_merged_summary(sketch_df: DataFrame, m: int) -> DataFrame:
    """Merge per-partition Misra-Gries summaries into ONE summary <= m.

    Input/output schema: ``token string, w long`` — token rows carry MG
    weights; null-token trailer rows carry exact per-partition token
    counts (summed through every stage, so the final trailer is N).

    Two stages, both streaming the same capacity-m reduction used by
    the sketch pass (Agarwal et al., "Mergeable Summaries", PODS'12):
    a hash repartition on token into ``MG_MERGE_PARTS`` partitions
    (all partial weights for a token meet in one place; nulls co-hash
    so N sums correctly), then a single-partition final merge over the
    <= MG_MERGE_PARTS*(m+1) survivors. The subtract-(m+1)-th-largest
    step destroys >= (m+1)*d weight per reduction, so total undercount
    anywhere is <= N/(m+1) regardless of merge topology — see the
    ``heavy_hitters`` docstring for why that keeps the superset
    guarantee intact.
    """
    from typing import Iterator

    import pandas as pd

    def mg_merge(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        counters: dict[str, int] = {}
        n_tot = 0
        for pdf in it:
            mask = pdf["token"].notna()
            n_tot += int(pdf["w"][~mask].sum())
            summed = (
                pd.DataFrame({"t": pdf["token"][mask], "c": pdf["w"][mask]})
                .groupby("t", sort=False)["c"].sum()
            )
            for tok, c in summed.items():
                counters[tok] = counters.get(tok, 0) + int(c)
            counters = mg_reduce(counters, m)
        yield pd.DataFrame(
            {"token": pd.Series(list(counters) + [None], dtype="object"),
             "w": pd.Series(list(counters.values()) + [n_tot],
                            dtype="int64")}
        )

    schema = "token string, w long"
    return (
        sketch_df.repartition(MG_MERGE_PARTS, "token")
        .mapInPandas(mg_merge, schema=schema)
        .repartition(1)
        .mapInPandas(mg_merge, schema=schema)
    )


def heavy_hitters(
    df: DataFrame, phi: float = 0.001, text_col: str = "text"
) -> DataFrame:
    """EXACT frequent-token mining without shuffling the token stream.

    Returns every token whose global count is >= ceil(phi * N) (N =
    total token count, Spark ``split(col, ' ')`` semantics), with its
    exact count — the same rows as the naive
    ``GROUP BY token HAVING count >= ceil(phi*N)``, but scale-shaped
    for 100 TB where the naive plan shuffles every token occurrence:

    1. one map-only pass runs a Misra-Gries summary of capacity
       m = ceil(2/phi) per partition (``mapInPandas``, Arrow-batched,
       vectorized ``value_counts`` merged into the sketch with the
       subtract-(m+1)-th-largest reduction of Agarwal et al.,
       "Mergeable Summaries", PODS'12), emitting (token, weight) rows
       plus one trailer row per partition with its exact token count;
    2. the per-partition summaries are merged DISTRIBUTED, never on the
       driver: a hash repartition on token routes each token's partial
       weights to one of a constant number of merge partitions, each of
       which streams its rows through the same MG reduction, then a
       final single-partition pass merges those into ONE summary of at
       most m rows. The mergeability argument is global: every
       reduction step (sketch-build or merge) that subtracts d destroys
       at least (m+1)*d of summary weight, and only N weight is ever
       inserted, so the SUM of all subtractions anywhere in the DAG is
       <= N/(m+1) — any token's total undercount is bounded by that
       same budget. A true heavy hitter has count >= ceil(phi*N) >
       N/(m+1) (m = ceil(2/phi) gives m+1 > 2/phi), so it survives the
       final summary with positive weight: the merged summary is a
       guaranteed candidate SUPERSET of size <= m, independent of the
       input partition count. The driver collects only those <= m+1
       rows (candidates + N trailer);
    3. candidates are broadcast back and the exact recount groups only
       matching tokens — the shuffle carries at most m distinct keys,
       not the corpus. The whole operator reads the corpus exactly
       TWICE (sketch + recount).

    The output is exact, so the sketch's approximation error never
    reaches the caller; it only bounds which tokens pay the recount.
    The ``HH_MAX_CANDIDATES`` guard is checked BEFORE any job runs —
    after the distributed merge the collect is structurally <= m+1
    rows, so the only way to exceed it is an m (i.e. a phi) that was
    too aggressive to begin with.
    """
    import os
    from typing import Iterator

    import pandas as pd

    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    m = int(math.ceil(2.0 / phi))
    max_candidates = int(os.environ.get("HH_MAX_CANDIDATES", 5_000_000))
    if m + 1 > max_candidates:
        raise ValueError(
            f"heavy_hitters: sketch capacity m+1={m + 1} (phi={phi}) "
            f"exceeds the driver guard ({max_candidates}); raise phi "
            "or set HH_MAX_CANDIDATES"
        )

    toks_expr = tokens_spark(text_col)

    def sketch(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in it:
            s = pdf["toks"].explode()
            s = s[s.notna()]
            n_part += len(s)
            for tok, c in s.value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            counters = mg_reduce(counters, m)
        # one trailer row per partition carries its exact token count
        yield pd.DataFrame(
            {"token": pd.Series(list(counters) + [None], dtype="object"),
             "w": pd.Series(list(counters.values()) + [n_part],
                            dtype="int64")}
        )

    summary = _mg_merged_summary(
        df.select(F.expr(toks_expr).alias("toks"))
        .mapInPandas(sketch, schema="token string, w long"),
        m,
    ).collect()  # <= m+1 rows by construction, whatever the input size
    total = sum(r["w"] for r in summary if r["token"] is None)
    threshold = int(math.ceil(total * phi))
    cand = sorted({r["token"] for r in summary if r["token"] is not None})
    spark = df.sparkSession
    candidates = spark.createDataFrame(
        [(t,) for t in cand], "token string"
    )
    exploded = df.select(F.explode(F.expr(toks_expr)).alias("token"))
    return (
        exploded.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
        .orderBy(F.desc("cnt"), "token")
    )
