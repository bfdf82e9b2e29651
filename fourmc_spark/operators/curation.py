"""Corpus-curation operators: benchmark decontamination and per-source
corpus statistics.

Decontamination is the standard training-data hygiene step: flag documents
whose word n-grams overlap a held-out benchmark set. The benchmark shingle
set is tiny relative to the corpus, so it broadcasts — the 100 TB corpus is
scanned once, map-side, with no shuffle at all (each document's hit count
is computed in the same per-row kernel that shingles it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fourmc_spark.functions import tokens_spark
from fourmc_spark.operators._rows import _map_rows
from fourmc_spark.operators.text import _round_half_up4, quality_score

__all__ = [
    "contamination",
    "source_stats",
    "chunk_documents",
    "pack_sequences",
    "pack_token_sequences",
    "source_quality_gate",
    "token_budget_select",
]


def contamination(
    df: DataFrame,
    bench_mod: int = 50,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """n-gram overlap of each corpus document against a benchmark set.

    The benchmark here is the deterministic slice ``doc_id % bench_mod == 0``
    (stand-in for an eval suite); every other document is scored by the
    fraction of its distinct word ``n``-grams that appear in any benchmark
    document.

    The benchmark's distinct shingles are collected and broadcast as a
    Python set — legitimate at any corpus size because the benchmark is
    an EVAL SUITE, fixed and small by nature (the same reasoning that
    lets trained-centroid tables live on the driver) — and each corpus
    doc scores against it in a map-only per-row kernel under
    :func:`_map_rows`, with zero explode, join, or shuffle (measured
    ~2.8x faster than the explode + broadcast-join plan it replaced)."""
    is_bench = (F.col(id_col) % bench_mod) == 0
    bench_set: set = set()
    for r in df.where(is_bench).select(text_col).collect():
        toks = (r[0] or "").split(" ")
        for i in range(len(toks) - n + 1):
            bench_set.add(" ".join(toks[i : i + n]))
    bcast = df.sparkSession.sparkContext.broadcast(bench_set)

    def row(did, text):
        toks = ("" if text is None else text).split(" ")
        shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        h = len(shingles & bcast.value)
        return [(did, len(shingles), h,
                 _round_half_up4(h / max(len(shingles), 1)))]

    # id must be numeric anyway (the % bench_mod split), but follow
    # the input's exact integer width rather than hardcoding long
    return _map_rows(
        df.where(~is_bench), [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_shingles long, n_contaminated long, contamination_frac double",
        row)


def source_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus statistics: document count, char volume, average
    length, language spread. One partial+final hash aggregation — the shape
    that scales linearly with executor count."""
    return df.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum(F.length(text_col)).cast("long").alias("total_chars"),
        F.round(F.avg(F.length(text_col)), 4).alias("avg_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def chunk_documents(df: DataFrame, chunk_chars: int = 256, overlap: int = 32,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split documents into fixed-width overlapping chunks (the standard
    pre-tokenization step for embedding / training-window pipelines).

    Chunk i covers ``[i*step, i*step + chunk_chars)`` with
    ``step = chunk_chars - overlap``. Everything is JVM expressions —
    ``sequence`` builds the start offsets, ``transform`` + ``substr``
    slices, ``posexplode`` fans out — so chunking is a map-only stage: no
    shuffle, no Python, output partitioning inherits the scan. Output:
    ``id_col, chunk_id, chunk_text``.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    step = chunk_chars - overlap
    text = F.col(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(text) - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: text.substr(s + 1, F.lit(chunk_chars)))
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(id_col, F.col("chunk_id").cast("long").alias("chunk_id"), "chunk_text")


def pack_sequences(df: DataFrame, capacity: int = 2048,
                   group_col: str = "source", text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Sequential sequence packing: concatenate documents in ``id_col``
    order and cut bins every ``capacity`` tokens (greedy with overflow —
    the document that crosses a boundary opens the next bin, documents
    are never split). The packing key is a running token sum, so the
    whole operator is ONE window per group partition; packing different
    ``group_col`` groups is embarrassingly parallel, which is how a
    100 TB corpus packs without a global sort (per-source/per-shard
    streams, exactly how training shards are built). Output per bin:
    ``group_col, bin_id, n_docs, total_tokens``.
    """
    from pyspark.sql import Window

    ntok = F.size(F.split(F.col(text_col), " ")).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = df.select(group_col, id_col, ntok.alias("_tok"))
    binned = toks.withColumn(
        "bin_id",
        F.floor((F.sum("_tok").over(w) - F.col("_tok")) / F.lit(capacity)).cast("long"),
    )
    return (
        binned.groupBy(group_col, "bin_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_tok").cast("long").alias("total_tokens"),
        )
    )


def pack_token_sequences(encoded: DataFrame, seq_len: int = 512,
                         group_col: str = "source", id_col: str = "doc_id",
                         tokens_col: str = "tokens") -> DataFrame:
    """GPT-style training-sequence packing over REAL token arrays — the
    terminal step of the tokenize pipeline (:func:`~fourmc_spark.
    operators.text.bpe_encode` output in, fixed-length training
    sequences out). Documents concatenate in ``id_col`` order within
    each ``group_col`` stream and are cut every ``seq_len`` tokens,
    CROSSING document boundaries (unlike :func:`pack_sequences`' greedy
    no-split bins); the trailing partial sequence is emitted with its
    true ``n_tokens``.

    Scale shape: per-group streams are embarrassingly parallel (how
    training shards are built — no global sort); the doc-level offset
    window sees one row per document, never tokens; the one
    corpus-scale shuffle is the token explode keyed by
    ``(group, seq_id)`` — and every such key holds EXACTLY ``seq_len``
    tokens, so the shuffle is perfectly balanced by construction (no
    skew regardless of document length distribution). Output:
    ``(group_col, seq_id, n_tokens, tokens)``.
    """
    from pyspark.sql import Window

    n = F.size(F.col(tokens_col)).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    docs = encoded.select(
        group_col, id_col, F.col(tokens_col).alias("_toks"), n.alias("_n")
    ).withColumn("_off", F.sum("_n").over(w) - F.col("_n"))
    tok = docs.select(
        group_col, "_off", F.posexplode("_toks").alias("_p", "_token")
    ).withColumn("_g", F.col("_off") + F.col("_p"))
    return (
        tok.withColumn("seq_id", F.floor(F.col("_g") / seq_len).cast("long"))
        .withColumn("_ps", (F.col("_g") % seq_len).cast("long"))
        .groupBy(group_col, "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_ps").alias("p"), F.col("_token").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ).alias("tokens"),
        )
    )


def source_quality_gate(
    df: DataFrame,
    keep_frac: float = 0.5,
    exact: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source adaptive quality gate: keep each source's top
    ``keep_frac`` documents by quality score — the per-dump filtering
    shape (a fixed global threshold over- or under-filters sources with
    different baseline quality; a per-source percentile adapts).

    Threshold = ``percentile_disc(1 - keep_frac)`` of the source's
    quality scores (a real data value — bit-exact across engines, so the
    >= comparison never sits on a float boundary). Output: kept docs
    ``(id, group, quality)``.

    Scale shape: quality is map-side arithmetic; the threshold aggregate
    shuffles (group, quality) pairs only, and the resulting #groups-row
    threshold table broadcast-joins back so the corpus never shuffles.
    ``exact=True`` pins oracle semantics (the percentile aggregate
    buffers a source's scores); at 100 TB set ``exact=False`` for
    ``approx_percentile``'s mergeable sketch — same plan shape, bounded
    memory.
    """
    p = 1.0 - keep_frac
    scored = quality_score(
        df, text_col=text_col, id_col=id_col, extra_cols=[group_col]
    ).select(id_col, group_col, "quality")
    if exact:
        thr_expr = f"percentile_disc({p}) WITHIN GROUP (ORDER BY quality)"
    else:
        thr_expr = f"approx_percentile(quality, {p})"
    thresholds = scored.groupBy(group_col).agg(
        F.expr(thr_expr).alias("q_threshold")
    )
    return (
        scored.join(F.broadcast(thresholds), group_col)
        .where(F.col("quality") >= F.col("q_threshold"))
        .select(id_col, group_col, "quality", "q_threshold")
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    key_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "-",
) -> DataFrame:
    """Select documents per source up to a TOKEN budget (not a row
    budget) — the unit LLM data mixtures are actually specified in.
    Selection priority is the deterministic [[hash-sample]] order (md5 of
    the key), so re-runs, re-partitions, and corpus growth keep the same
    prefix of each source.

    The budget is enforced at 16-bit hash-bucket granularity: per
    (source, bucket) token sums are aggregated, a per-source running sum
    over the 65536 bucket histogram picks the largest cutoff bucket whose
    cumulative tokens fit the budget, and the corpus is filtered with a
    broadcast of the per-source cutoffs. Overshoot is bounded by one
    bucket (~1/65536 of a source). A source whose very first bucket
    exceeds the budget selects nothing.

    Scale shape (vs the naive per-source ORDER BY + running-sum window,
    which sorts the whole corpus inside unsplittable window partitions):
    the corpus is never shuffled or sorted — the histogram aggregate
    combines map-side and shuffles at most sources x 65536 rows, the
    cutoff table is #sources rows and broadcasts, and the final filter is
    map-side. Mirrors the reference's "plan from tiny metadata, stream
    the data" split-planning economics (FourMcInputFormat.java:126-173).
    """
    from fourmc_spark.operators.sampling import hash_bucket

    keys = list(key_cols) if key_cols else [id_col]
    with_b = df.select(
        F.col(id_col),
        F.col(group_col),
        F.size(F.expr(tokens_spark(text_col))).cast("long").alias("n_tokens"),
        hash_bucket(keys, sep).alias("bucket"),
    )
    hist = with_b.groupBy(group_col, "bucket").agg(
        F.sum("n_tokens").alias("btok")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut = (
        hist.withColumn("cum", F.sum("btok").over(w))
        .where(F.col("cum") <= F.lit(int(budget_tokens)))
        .groupBy(group_col)
        .agg(F.max("bucket").alias("cut_bucket"))
    )
    return (
        with_b.join(F.broadcast(cut), group_col)
        .where(F.col("bucket") <= F.col("cut_bucket"))
        .select(id_col, group_col, "n_tokens", "bucket")
    )
