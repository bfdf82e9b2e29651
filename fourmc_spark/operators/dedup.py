"""Deduplication operators for large-scale text corpora.

Five strategies, built from DataFrame ops (JVM-side, whole-stage-codegen)
plus two map-only per-row signature kernels under :func:`._rows._map_rows`:

* exact        — md5 group (or dropDuplicates); one shuffle on the hash.
* minhash      — k universal hashes over 3-word shingles; signatures
                 map-only per doc, or, over a shared persisted shingle
                 explosion, one groupBy with k min() aggregates.
* minhash LSH  — band signatures, bucket self-join for candidates, exact
                 Jaccard confirm. At 100 TB the candidate join shuffles only
                 (band, bucket) keys; bucket skew is handled by AQE skew
                 splitting. Banding (k=16, bands of 2) gives detection prob
                 1-(1-J^2)^8 (≈1-1e-11 at J=0.9).
* simhash      — 48-bit signature from per-bit majorities, computed map-only
                 per doc (no row explosion); near-dup pairs
                 via 4x12-bit band join — pigeonhole guarantees recall 1.0
                 for hamming distance <= 3.
* ngram-jaccard — exact pairwise Jaccard restricted to shingle-sharing
                 pairs (inverted-index join, never a cross join).

The reference has no dedup operators (it is an I/O library); these are the
LLM-pipeline extensions mandated by BASELINE.json, designed Spark-first.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from fourmc_spark.functions import (
    HASH_PRIME,
    minhash_params,
    shingles_spark,
    token_hash_spark,
    tokens_spark,
)
from fourmc_spark.operators._rows import _map_rows

__all__ = [
    "exact_dedup",
    "shingle_sets",
    "minhash_signatures",
    "jaccard_pairs",
    "cap_hot_buckets",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_pairs",
    "edit_distance_pairs",
    "incremental_near_dedup",
    "incremental_near_dedup_presigned",
    "global_chunk_dedup",
    "band_bucket_index",
    "id_bucket",
]

MINHASH_K = 16
SIMHASH_BITS = 48
SIMHASH_BANDS = 4  # 12 bits each -> recall 1.0 for hamming <= 3


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: content hash -> group size + kept id.

    One hash-shuffle; at 100 TB prefer this over dropDuplicates(text) since
    the shuffle key is a 32-char digest, not the document body.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _parse_bytes(v: str) -> int:
    """Spark size-conf string -> bytes ('134217728', '128m', '1g',
    '134217728b' are all valid conf spellings)."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("t", 1 << 40)):
        if s.rstrip("b").endswith(suf):
            s = s.rstrip("b")[: -1]
            mult = m
            break
    else:
        s = s.rstrip("b")
    return int(s) * mult


def _fanout_rebalance(df: DataFrame, id_col: str) -> DataFrame:
    """Rebalance BEFORE a high-fanout explode (or a per-doc Python
    stage): exploding multiplies rows ~100-200×, and Spark can never
    split one input partition's explosion across tasks — a 1-file table
    would shingle on one core.

    Conditional on a CHEAP partition-count proxy: ``df.inputFiles()``
    (file listing only — no ``df.rdd`` plan materialization on the
    driver, the round-1 defect). The scan is already wide enough when
    EITHER there is at least one file per core OR the files' total
    bytes split into >= one scan partition per core at
    ``spark.sql.files.maxPartitionBytes`` — the second clause covers
    the common big-data layout of a few large SPLITTABLE files
    (parquet / our block-indexed 4mc), where file count < cores but
    scan partitions >> cores; shuffling the whole corpus there was a
    scale regression. Only genuinely coarse inputs (small single file,
    in-memory test frames) hash-repartition to a PINNED
    defaultParallelism: pinning is deliberate — an AQE-coalescible
    exchange (REBALANCE hint / countless repartition) sizes partitions
    by their PRE-explosion bytes and folds the corpus back to ~one
    partition, exactly the starvation this guard exists to prevent
    (measured 7.5s vs 2s on the jaccard query). Post-explode shuffles
    use spark.sql.shuffle.partitions, so the pin caps nothing
    downstream."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if len(files) >= par:
            return df
        # single-stream compressed containers are NOT splittable — the
        # bytes proxy below would wrongly skip the repartition and leave
        # the explode on file-count cores
        _unsplittable = (".gz", ".bz2", ".xz", ".zst", ".sz", ".lz4",
                         ".snappy", ".deflate")
        if files and not any(p.lower().endswith(_unsplittable) for p in files):
            # total-bytes / maxPartitionBytes proxy for splittable scans.
            # Local paths only (file: URIs) — a stat failure (remote FS)
            # falls through to the conservative repartition.
            import os as _os

            max_pb = _parse_bytes(
                str(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                   "134217728"))
            )
            total = 0
            for p in files:
                if p.startswith("file:"):
                    p = "/" + p[5:].lstrip("/")
                total += _os.path.getsize(p)
            if total // max(max_pb, 1) >= par:
                return df
    except Exception:
        pass
    return df.repartition(par, F.col(id_col))


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted index every other
    operator builds on."""
    return (
        _fanout_rebalance(df, id_col)
        # materialize tokens first: shingling a raw split() expression
        # re-tokenizes per element inside the lambda (quadratic per doc)
        .select(
            F.col(id_col), F.expr(tokens_spark(text_col)).alias("__toks")
        )
        .select(
            F.col(id_col),
            F.explode(F.expr(shingles_spark("__toks", n))).alias("shingle"),
        )
        .distinct()
    )


def _token_hash_py(cache: dict, s: str) -> int:
    """Python twin of functions.token_hash_spark — md5-hex-prefix mod P,
    verified value-equal (same utf-8 bytes, same lowercase hex). Cached:
    corpus vocabulary repeats heavily, so unique md5s are computed once
    per task (the kernel's closure holds ``cache``), dict hits serve the
    rest."""
    v = cache.get(s)
    if v is None:
        v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % HASH_PRIME
        cache[s] = v
    return v


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = MINHASH_K,
                       shingles: DataFrame | None = None) -> DataFrame:
    """k-permutation MinHash signature, one column per hash (mh00..).

    Default path is MAP-ONLY, one per-row kernel under
    :func:`_map_rows`: each doc's distinct shingle set, its hashes, and
    the k minima are computed locally — the corpus is never exploded or
    shuffled at all (signatures are ~100 bytes/doc; the explode+groupBy
    form shuffles every (id, shingle) pair). Docs with fewer than 3
    tokens produce no row, matching the aggregate-over-empty-set
    semantics.

    Pass a prebuilt (persisted) *shingles* frame to share an explosion
    that other plan branches need anyway (the LSH confirm join) — that
    selects the single-wide-aggregation SQL twin: k min() aggregates in
    one pass, one shuffle keyed by id regardless of k.
    """
    if shingles is not None:
        h = token_hash_spark("shingle")
        aggs = [
            F.min(F.expr(f"({a} * {h} + {b}) % {HASH_PRIME}")).alias(f"mh{i:02d}")
            for i, (a, b) in enumerate(minhash_params(k))
        ]
        return shingles.groupBy(id_col).agg(*aggs)

    params = minhash_params(k)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    cache: dict = {}

    def row(did, text):
        toks = ("" if text is None else text).split(" ")
        if len(toks) < 3:
            return []  # no shingles -> no signature row
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        hs = np.fromiter((_token_hash_py(cache, s) for s in sh),
                         dtype=np.int64, count=len(sh))
        # a*h < 2^62: fits int64 exactly
        sig = ((A * hs[None, :] + B) % HASH_PRIME).min(axis=1)
        return [(did, *sig.tolist())]

    # follow the input id type (string/int/...) like cosine_pairs does —
    # the SQL twin never constrained it to long
    return _map_rows(
        _fanout_rebalance(df, id_col), [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        + ", ".join(f"mh{i:02d} long" for i in range(k)), row)


def jaccard_pairs(df: DataFrame, threshold: float, text_col: str = "text",
                  id_col: str = "doc_id",
                  candidates: DataFrame | None = None,
                  shingles: DataFrame | None = None) -> DataFrame:
    """Exact shingle-Jaccard pairs >= threshold via inverted-index join.

    Optionally restricted to a candidate pair set (LSH pre-filter). Output:
    (a_id, b_id, jaccard) with a_id < b_id, jaccard rounded to 4 places.
    """
    sh = shingles if shingles is not None else shingle_sets(df, text_col, id_col)
    counts = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.withColumnRenamed(id_col, "a_id")
    b = sh.withColumnRenamed(id_col, "b_id")
    if candidates is not None:
        # Restrict BEFORE the self-join: candidates ⋈ a-shingles ⋈
        # b-shingles touches |candidates| x avg_shingles rows, not the
        # full inverted-index blowup — this ordering is the entire point
        # of the LSH pre-filter at 100 TB.
        common = (
            candidates.join(a, on="a_id")
            .join(b, on=["b_id", "shingle"])
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        common = (
            a.join(b, on="shingle")
            .where(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("n_common"))
        )
    na = counts.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _band_buckets(sig: DataFrame, id_col: str, k: int,
                  rows_per_band: int) -> DataFrame:
    """(id, band, bucket) from a MinHash signature frame — one row per
    band, bucket combined exactly (mh0 * P + mh1 stays < 2^62)."""
    n_bands = k // rows_per_band
    band_cols = []
    for j in range(n_bands):
        cols = [f"mh{i:02d}" for i in range(j * rows_per_band, (j + 1) * rows_per_band)]
        expr = cols[0]
        for c in cols[1:]:
            expr = f"({expr}) * {HASH_PRIME} + {c}"
        band_cols.append(F.struct(F.lit(j).alias("band"), F.expr(expr).alias("bucket")))
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


# partition count for the persisted band-bucket signature index: each
# snapshot partition holds ~1/SIG_INDEX_PARTS of the corpus index, and a
# micro-batch only reads the partitions its own buckets hash into. 64 is
# sized for the local gate; a 100 TB corpus wants 4096+ (set per-call).
SIG_INDEX_PARTS = 64


def _pbucket(n_parts: int):
    """Partition key for a persisted (band, bucket) index — MUST be the
    identical expression on the index-build side and the probe side, or
    pruning silently drops true candidates."""
    return F.pmod(F.hash(F.col("band"), F.col("bucket")), F.lit(n_parts)).cast("int")


# partition count for id-bucketed persisted corpora (the docs side of
# the ingest snapshot): reads keyed by a known id set prune to the
# buckets those ids hash into. 64 for the local gate; scale per-call.
ID_INDEX_PARTS = 64


def id_bucket(id_col: str, n_parts: int = ID_INDEX_PARTS):
    """Partition key for an id-bucketed persisted corpus — like
    :func:`_pbucket`, the expression MUST match between the write and
    every pruned probe."""
    return F.pmod(F.hash(F.col(id_col)), F.lit(n_parts)).cast("int")


def band_bucket_index(sig: DataFrame, id_col: str = "doc_id",
                      k: int = MINHASH_K, rows_per_band: int = 2,
                      n_parts: int = SIG_INDEX_PARTS) -> DataFrame:
    """Exploded ``(id, band, bucket, pb)`` LSH index from a signature
    frame, ready to persist ``partitionBy("pb")`` — the snapshot-side
    artifact that lets :func:`incremental_near_dedup_presigned` read only
    the partitions a batch's own buckets hash into. Candidate-lookup
    I/O becomes at most (distinct buckets touched)/n_parts of the index
    instead of all of it; compute stays O(batch x collision rate)
    either way."""
    return _band_buckets(sig, id_col, k, rows_per_band).withColumn(
        "pb", _pbucket(n_parts)
    )


def cap_hot_buckets(buckets: DataFrame, max_bucket: int,
                    key_cols: list[str] = ("band", "bucket")) -> DataFrame:
    """Drop LSH buckets larger than *max_bucket* rows before a bucket
    self-join. A degenerate bucket (boilerplate, empty docs, template
    spam — all sharing one signature slice) turns the candidate join
    quadratic: one 100k-row bucket alone is 5e9 candidate pairs. Those
    cohorts are near-exact duplicates that exact/content-hash dedup
    already catches at O(n); capping them here bounds every bucket's
    join fan-out at max_bucket^2 while the windowed-count shuffle only
    carries (key, id) rows. Opt-in — with no cap the pair surface stays
    exhaustively oracle-checkable."""
    keys = list(key_cols)
    w = Window.partitionBy(*keys)
    return (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .where(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.8,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = MINHASH_K, rows_per_band: int = 2,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs: LSH banding for candidates + exact-Jaccard confirm.

    The scale path: candidate generation touches only (band, bucket) keys;
    the exact confirm join runs on the (small) candidate set. The shingle
    inverted index is persisted (memory-and-disk, LRU-evicted) and shared
    by the signature, confirm, and count branches — one explosion pass
    instead of four.
    """
    sh = shingle_sets(df, text_col, id_col).persist()
    sig = minhash_signatures(df, text_col, id_col, k, shingles=sh)
    buckets = _band_buckets(sig, id_col, k, rows_per_band)
    if max_bucket is not None:
        buckets = cap_hot_buckets(buckets, max_bucket)
    left = buckets.withColumnRenamed(id_col, "a_id")
    right = buckets.withColumnRenamed(id_col, "b_id")
    candidates = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return jaccard_pairs(df, threshold, text_col, id_col,
                         candidates=candidates, shingles=sh)


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over distinct tokens: bit b of the signature is the majority
    of bit b across token hashes.

    Map-only, one per-row kernel under :func:`_map_rows`: each doc's
    distinct-token hash set and the 48 bit-majority votes happen locally
    in one numpy matrix op per doc; nothing is exploded or shuffled (the
    groupBy form it replaced shuffled every (id, token) pair). A NULL
    text has no tokens and gets no row."""
    shifts = np.arange(bits, dtype=np.int64)
    weights = np.int64(1) << shifts
    cache: dict = {}

    def row(did, text):
        if text is None:
            return []
        toks = set(text.split(" "))
        hs = np.fromiter((_token_hash_py(cache, t) for t in toks),
                         dtype=np.int64, count=len(toks))
        # bit-majority: count of set bits per position
        counts = ((hs[:, None] >> shifts[None, :]) & 1).sum(axis=0)
        return [(did, int(weights[2 * counts > len(hs)].sum()))]

    return _map_rows(
        _fanout_rebalance(df, id_col), [id_col, text_col],
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "simhash long", row)


def simhash_pairs(df: DataFrame, max_hamming: int = 3, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = SIMHASH_BITS,
                  n_bands: int = SIMHASH_BANDS) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Band join: split the signature into n_bands bit-slices; any pair within
    hamming <= n_bands-1 shares at least one exact slice (pigeonhole), so
    recall is exactly 1.0 — no probabilistic miss. Output
    (a_id, b_id, hamming)."""
    assert max_hamming <= n_bands - 1, "pigeonhole guarantee needs bands > hamming"
    sig = simhash_signatures(df, text_col, id_col, bits)
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(f"shiftright(simhash, {j * width}) & {mask}").alias("bucket"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    a = bands.select(
        F.col(id_col).alias("a_id"), F.col("simhash").alias("sig_a"), "band", "bucket"
    )
    b = bands.select(
        F.col(id_col).alias("b_id"), F.col("simhash").alias("sig_b"), "band", "bucket"
    )
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.expr("bit_count(sig_a ^ sig_b)").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def edit_distance_pairs(df: DataFrame, max_dist: int = 2, prefix_len: int = 48,
                        pad_char: str = "~", text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Edit-distance similarity join over fixed-length document prefixes.

    Finds all pairs whose ``prefix_len``-char prefixes (right-padded with
    ``pad_char`` so every key is exactly ``prefix_len`` chars) are within
    Levenshtein distance ``max_dist`` — the classic fuzzy-dedup primitive
    for catching retyped / lightly edited boilerplate that MinHash misses
    on short fields.

    Candidate generation is PassJoin-style partition filtering (Li, Deng,
    Feng & Wang, "PASS-JOIN: a partition-based method for similarity
    joins", PVLDB 5(3), 2011): split each key into ``max_dist + 1``
    segments; the pigeonhole principle guarantees that if
    ``ed(s1, s2) <= d`` then at least one full segment of s1 occurs
    verbatim in s2, starting within ``±d`` of its own position. So:

    * chunk side — each key emits its ``d+1`` exact segments;
    * window side — each key emits every substring that any segment could
      match: per segment position, the ``2d+1`` shifted windows of the
      same length (clipped to the key bounds);
    * an equi-join on ``(segment_index, string)`` yields a candidate
      superset with recall 1.0 — never a cross join, and the join key is a
      short string, so the shuffle carries ids + segments only;
    * exact ``levenshtein`` verify on the (small) candidate set. Keys are
      re-joined for the verify so the candidate shuffle never carries both
      full keys through the fan-out.

    Skew note for 100 TB: a segment value shared by many keys (e.g. the
    all-``pad_char`` tail segment of very short documents) is a hot join
    key; AQE skew-join splitting handles it, and raising ``prefix_len``
    dilutes it. Output: ``a_id < b_id, dist`` (long).
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1; use exact_dedup for 0")
    n_seg = max_dist + 1
    if prefix_len < n_seg:
        raise ValueError("prefix_len must be >= max_dist + 1")
    base, rem = divmod(prefix_len, n_seg)
    # first `rem` segments are one char longer; starts are 1-based
    seg_bounds: list[tuple[int, int]] = []
    start = 1
    for i in range(n_seg):
        seg_len = base + (1 if i < rem else 0)
        seg_bounds.append((start, seg_len))
        start += seg_len

    keyed = df.select(
        F.col(id_col),
        F.rpad(F.substring(F.col(text_col), 1, prefix_len), prefix_len, pad_char).alias("_k"),
    )

    chunks = keyed.select(
        F.col(id_col).alias("a_id"),
        F.posexplode(
            F.array(*[F.substring("_k", s, ln) for s, ln in seg_bounds])
        ).alias("seg", "piece"),
    )
    win_exprs = []
    for i, (s, ln) in enumerate(seg_bounds):
        for shift in range(-max_dist, max_dist + 1):
            ws = s + shift
            if 1 <= ws <= prefix_len - ln + 1:
                win_exprs.append(
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.substring("_k", ws, ln).alias("piece"),
                    )
                )
    windows = keyed.select(
        F.col(id_col).alias("b_id"), F.explode(F.array(*win_exprs)).alias("w")
    ).select("b_id", F.col("w.seg").alias("seg"), F.col("w.piece").alias("piece"))

    cand = (
        chunks.join(windows, on=["seg", "piece"])
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )
    ka = keyed.select(F.col(id_col).alias("a_id"), F.col("_k").alias("_ka"))
    kb = keyed.select(F.col(id_col).alias("b_id"), F.col("_k").alias("_kb"))
    return (
        cand.join(ka, "a_id")
        .join(kb, "b_id")
        .withColumn("dist", F.levenshtein("_ka", "_kb").cast("long"))
        .where(F.col("dist") <= max_dist)
        .select("a_id", "b_id", "dist")
    )


def incremental_near_dedup(corpus: DataFrame, incoming: DataFrame,
                           threshold: float = 0.8, text_col: str = "text",
                           id_col: str = "doc_id", k: int = MINHASH_K,
                           rows_per_band: int = 2) -> DataFrame:
    """Admit only incoming rows that near-dup neither the corpus nor an
    earlier incoming row — the daily-ingest shape of MinHash dedup.

    The scale property this exists for: candidates are (corpus x incoming)
    and (incoming x incoming) band collisions ONLY — the corpus is never
    self-joined, so a day's ingest costs O(|incoming| x collision rate)
    regardless of corpus size. Ids must be globally unique with incoming
    ids ordering after their dedup peers' (append-only ingest gives both).

    Semantics (deterministic, order-free): an incoming row is dropped iff
    it confirms Jaccard >= threshold against ANY corpus row or ANY
    incoming row with a smaller id — whether or not that partner is
    itself dropped (drop-vs-all, not greedy chaining: no sequential
    dependency, so the decision parallelizes). Returns surviving incoming
    rows with their original columns. Recall caveat as
    :func:`minhash_lsh_pairs` (detection prob ~1 at J >= threshold).
    """
    union = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(True).alias("_corpus")
    ).unionByName(
        incoming.select(F.col(id_col), F.col(text_col), F.lit(False).alias("_corpus"))
    )
    sh = shingle_sets(union, text_col, id_col).persist()
    sig = minhash_signatures(union, text_col, id_col, k, shingles=sh)
    roles = union.select(F.col(id_col), "_corpus")
    buckets = _band_buckets(sig, id_col, k, rows_per_band).join(roles, id_col)
    left = buckets.select(
        F.col(id_col).alias("a_id"), F.col("_corpus").alias("a_corpus"),
        "band", "bucket",
    )
    right = buckets.where(~F.col("_corpus")).select(
        F.col(id_col).alias("b_id"), "band", "bucket"
    )
    candidates = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("a_corpus") | (F.col("a_id") < F.col("b_id")))
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    confirmed = jaccard_pairs(union, threshold, text_col, id_col,
                              candidates=candidates, shingles=sh)
    dropped = confirmed.select(F.col("b_id").alias(id_col)).distinct()
    return incoming.join(dropped, on=id_col, how="left_anti")


def incremental_near_dedup_presigned(
    corpus: DataFrame | None,
    incoming: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    rows_per_band: int = 2,
    persist_registry: list | None = None,
    corpus_buckets: DataFrame | None = None,
    bucket_parts: int = SIG_INDEX_PARTS,
    corpus_bucket_col: str | None = None,
    corpus_bucket_parts: int = ID_INDEX_PARTS,
    layout_verified: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`incremental_near_dedup` with a PRE-SIGNED corpus — the
    continuous-ingest shape where the admitted corpus carries its MinHash
    signature columns (``mh00..``) in the snapshot, so a batch never
    re-reads, re-shingles, or re-hashes corpus text.

    Per batch the work is: signatures for the BATCH only (map-only
    Arrow), a band-bucket join against the stored corpus signature index
    (a narrow id+k-longs table — ~0.1% of corpus text volume), and
    exact-Jaccard confirm with shingling restricted to the candidate
    participants on both sides. Identical admission decisions to
    :func:`incremental_near_dedup` (same deterministic signatures ->
    same buckets -> same candidates -> same confirm).

    ``corpus=None`` means empty (first batch). Returns admitted incoming
    rows WITH their signature columns appended (NULL for docs too short
    to shingle — those can never near-dup and are always admitted),
    ready to append to the snapshot. Nothing is persisted internally:
    the batch signature frame is recomputed per branch — a map-only
    Arrow pass over the BATCH, cheaper than a cache, and a persisted
    frame reused across the bucket branches trips Spark's
    whole-stage-codegen partition zip when defaultParallelism differs
    from shuffle partitions ("Can't zip RDDs"). ``persist_registry``
    collects any cached intermediates (currently none) for the caller
    to unpersist after materializing — the streaming caller drains it
    per micro-batch so a future cache cannot leak unboundedly.

    ``corpus_buckets``: optional PRE-EXPLODED corpus LSH index
    (:func:`band_bucket_index` output, persisted ``partitionBy("pb")``
    with the same ``bucket_parts``). When given, the corpus side of the
    band join reads the index instead of re-exploding corpus
    signatures, restricted to the partitions the BATCH's own buckets
    hash into (``pb IN (...)`` — at most ``bucket_parts`` values,
    collected from a map-only batch-sized job, so the plan shows real
    PartitionFilters on the snapshot read). Pruning cannot change the
    answer: a corpus row outside the batch's pb set shares no
    (band, bucket) with any batch row — ``_pbucket`` is the identical
    expression on both sides — so it can never be a candidate.

    ``corpus_bucket_col``: optional name of an :func:`id_bucket` column
    carried by ``corpus`` (i.e. the corpus is PERSISTED partitioned by
    id bucket). When given, the confirm step's corpus TEXT read — the
    one remaining corpus-proportional scan on this path — is restricted
    to the id buckets the candidate participants hash into (at most
    ``corpus_bucket_parts`` values, collected from a candidate-sized
    job; the candidate subplan is evaluated once more for that collect,
    which is batch-cost). A corpus row outside those buckets is not a
    candidate participant, so it cannot affect any confirm decision.

    ``layout_verified``: skip the two loud-fail layout guard probes
    (each a ``limit(1).count()`` Spark job per call). Pass True ONLY
    when the caller itself attests the bucket layouts — the streaming
    ingest does, because ``bucket_parts``/``corpus_bucket_parts`` come
    from the same manifest the state was written under (recorded at
    creation, never recomputed). The probes re-derive exactly what that
    manifest states, so inside the ingest hot path they are two
    redundant jobs per micro-batch. Direct API callers should leave
    this False: a hand-assembled corpus/index pair with mismatched
    n_parts would otherwise silently drop true candidates.

    ``max_bucket``: :func:`cap_hot_buckets` applied to the combined
    (corpus + batch) bucket frame before the candidate join — a
    degenerate bucket (template spam, boilerplate, empty docs all
    sharing one signature slice) otherwise makes the per-batch
    candidate fan-out O(bucket²). Bucket sizes are EXACT even under
    the pruned ``corpus_buckets`` read: ``pb`` is a function of
    (band, bucket), so every corpus row of any bucket the batch
    touches lives in a partition the prune keeps. Documented semantic
    trade: rows whose ONLY shared buckets are over the cap are
    admitted (recall loss confined to degenerate cohorts an exact
    content-hash pass catches at O(n)); decisions for every other row
    are unchanged.
    """
    sig_cols = [f"mh{i:02d}" for i in range(k)]
    inc_sig = minhash_signatures(incoming, text_col, id_col, k)

    right = _band_buckets(inc_sig, id_col, k, rows_per_band).select(
        F.col(id_col).alias("b_id"), "band", "bucket"
    )
    left_inc = _band_buckets(inc_sig, id_col, k, rows_per_band).select(
        F.col(id_col).alias("a_id"), F.lit(False).alias("a_corpus"),
        "band", "bucket",
    )
    if corpus is not None and corpus_buckets is not None:
        # loud-fail guard against an index built with MORE partitions
        # than bucket_parts (e.g. a 4096-part 100 TB index probed with
        # the 64-part default): the pb sets would be disjoint moduli and
        # pruning would silently drop true candidates. The check prunes
        # to partitions >= bucket_parts — zero I/O when the index
        # matches. (The reverse mismatch — index coarser than the probe
        # — is not detectable from the frame; pass matching
        # bucket_parts, it is part of the index's identity.)
        if not layout_verified and (
            corpus_buckets.where(F.col("pb") >= bucket_parts)
            .limit(1)
            .count()
            > 0
        ):
            raise ValueError(
                "incremental_near_dedup_presigned: corpus_buckets contains "
                f"pb >= bucket_parts ({bucket_parts}) — the index was built "
                "with a different n_parts; pass the matching bucket_parts"
            )
        # partition-pruned lookup: only index partitions the batch's own
        # buckets hash into can contain a colliding corpus row
        pbs = sorted(
            r["pb"]
            for r in _band_buckets(inc_sig, id_col, k, rows_per_band)
            .select(_pbucket(bucket_parts).alias("pb"))
            .distinct()
            .collect()
        )
        left = corpus_buckets.where(F.col("pb").isin(pbs)).select(
            F.col(id_col).alias("a_id"), F.lit(True).alias("a_corpus"),
            "band", "bucket",
        ).unionByName(left_inc)
    elif corpus is not None:
        corpus_sig = corpus.select(F.col(id_col), *sig_cols).where(
            F.col(sig_cols[0]).isNotNull()
        )
        left = _band_buckets(corpus_sig, id_col, k, rows_per_band).select(
            F.col(id_col).alias("a_id"), F.lit(True).alias("a_corpus"),
            "band", "bucket",
        ).unionByName(left_inc)
    else:
        left = left_inc
    if max_bucket is not None:
        # capping LEFT alone suffices: candidates only arise from a
        # left∧right key match, and left already holds every corpus AND
        # batch row of each bucket — the size the window counts is the
        # bucket's true combined size
        left = cap_hot_buckets(left, max_bucket)
    candidates = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("a_corpus") | (F.col("a_id") < F.col("b_id")))
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    # confirm: shingle ONLY candidate participants (both sides)
    participants = (
        candidates.select(F.col("a_id").alias(id_col))
        .unionByName(candidates.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    texts = incoming.select(F.col(id_col), F.col(text_col))
    if corpus is not None:
        ctexts = corpus
        if corpus_bucket_col is not None:
            # same loud-fail guard as corpus_buckets/pb above: a corpus
            # persisted with MORE id buckets than corpus_bucket_parts
            # would make the prune moduli disjoint and silently drop
            # candidate participants' text. Partition pruning makes the
            # probe zero-I/O when the layouts match.
            if not layout_verified and (
                corpus.where(
                    F.col(corpus_bucket_col) >= corpus_bucket_parts
                )
                .limit(1)
                .count()
                > 0
            ):
                raise ValueError(
                    "incremental_near_dedup_presigned: corpus "
                    f"{corpus_bucket_col} contains values >= "
                    f"corpus_bucket_parts ({corpus_bucket_parts}) — the "
                    "corpus was bucketed with a different n_parts; pass "
                    "the matching corpus_bucket_parts"
                )
            # prune the corpus text read to the id buckets any candidate
            # participant hashes into (the id-bucketed snapshot layout)
            vals = sorted(
                {
                    r["b"]
                    for r in candidates.select(
                        id_bucket("a_id", corpus_bucket_parts).alias("b")
                    )
                    .unionByName(
                        candidates.select(
                            id_bucket("b_id", corpus_bucket_parts).alias("b")
                        )
                    )
                    .distinct()
                    .collect()
                }
            )
            ctexts = ctexts.where(F.col(corpus_bucket_col).isin(vals))
        texts = ctexts.select(F.col(id_col), F.col(text_col)).unionByName(texts)
    texts = texts.join(participants, on=id_col, how="leftsemi")
    confirmed = jaccard_pairs(texts, threshold, text_col, id_col,
                              candidates=candidates)
    dropped = confirmed.select(F.col("b_id").alias(id_col)).distinct()
    return (
        incoming.join(dropped, on=id_col, how="left_anti")
        .join(inc_sig, on=id_col, how="left")
    )


def global_chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style global span dedup: cut every document into fixed
    ``chunk_tokens``-token chunks, keep only the globally FIRST occurrence
    of each repeated chunk (first = smallest ``(doc_id, position)``), and
    rebuild the cleaned text. This is the "remove any span seen elsewhere
    in the corpus" rule used by web-scale corpus cleaning, applied at
    chunk granularity.

    Output per doc: ``id_col, n_chunks, n_kept, cleaned_text``.

    Scale shape: chunking is map-only JVM expressions (``sequence`` +
    ``slice`` + ``posexplode``). First-occurrence election packs
    ``(doc_id, pos)`` into ONE BIGINT (``doc_id * 2^20 + pos`` —
    ``min`` over a packed long is a plain partial+final HashAggregate;
    ``min(struct(...))`` planned a SortAggregate, which sorts every
    partition) on the chunk key, then an equi-join back on that key —
    deliberately NOT a window over the corpus: the aggregate combines
    map-side and the join co-partitions both sides on the chunk hash
    under AQE. The inner join keeps every chunk (its own first always
    exists), so totals + kept-count + rebuild all come from ONE doc-id
    aggregate — the chunk relation is derived twice (election input,
    join probe), never three times. Two shuffles total: chunk key, then
    doc id. Docs are bounded at 2^20 chunks (~10M tokens) by the
    packing; the guard raises at plan level via ``assert_true``.
    """
    max_pos = 1 << 20
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    idxs = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunk_arr = F.transform(
        idxs,
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )
    chunks = df.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("pos", "chunk")
    ).select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        "chunk",
        (
            F.col(id_col).cast("long") * max_pos
            + F.when(
                F.col("pos") < max_pos, F.col("pos").cast("long")
            ).otherwise(
                F.assert_true(
                    F.lit(False), F.lit("doc exceeds 2^20 chunks")
                ).cast("long")
            )
        ).alias("occ"),
    )
    firsts = chunks.groupBy("chunk").agg(F.min("occ").alias("first_occ"))
    joined = chunks.join(firsts, "chunk").withColumn(
        "kept", (F.col("occ") == F.col("first_occ")).cast("long")
    )
    kept_struct = F.when(
        F.col("kept") == 1, F.struct("pos", "chunk")
    )  # collect_list drops NULLs -> only survivors enter the rebuild
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["chunk"],
                ),
            ).alias("cleaned_text"),
        )
    )
