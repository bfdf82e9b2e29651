"""Similarity search over embedding columns (array<float>).

Two paths, matching the blueprint's scale ladder:

* brute-force cosine top-k — the correctness baseline; the query set is
  broadcast, candidate scoring is a JVM-side higher-order-function dot
  product (no Python UDF), and top-k is a per-query window. At scale the
  scoring stage is embarrassingly parallel over candidate partitions and
  only k rows per (query, partition) survive the aggregation.
* LSH-bucketed ANN — random-hyperplane signs bucket candidates; only
  same-bucket pairs are scored. Recall < 1 by construction (reported
  alongside), shuffle volume drops by the bucket fanout.

Cosine is computed in float64 via zip_with + aggregate — deterministic,
sequential summation order (index order), so results are reproducible
across partitionings.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "with_norm",
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_topk",
    "kmeans_fit",
    "ivf_kmeans_topk",
    "kmeans_int_fit",
    "ivf_kmeans_int_topk",
    "cosine_pairs",
    "quantized_topk",
    "semantic_dedup",
    "hybrid_rrf_topk",
    "label_centroids",
    "assign_to_centroids",
    "random_projection",
    "projection_matrix",
]


def _dot(a: str, b: str) -> "F.Column":
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return df.withColumn("_norm", norm)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank).

    `queries` is expected to be small — it is broadcast, so scoring is a
    map-only stage over the candidate table; the only shuffle is the
    per-query top-k (k rows per partition survive the partial sort).
    """
    cand = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    scored = (
        cand.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("_cvec", "_qvec") / (F.col("_cnorm") * F.col("_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def lsh_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                 n_planes: int = 8, seed: int = 97, probe_bits: int = 1,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k via multi-probe random-hyperplane LSH.

    Vectors hash to a sign-pattern bucket; each query probes its own
    bucket plus every bucket within Hamming distance <= ``probe_bits``
    (a true near neighbor that straddles one or two hyperplanes lands
    one or two bit-flips away — multi-probe recovers it without the
    recall collapse of exact-bucket probing). ``probe_bits``=1 scans
    ~``(1+n_planes)/2**n_planes`` of the candidates. Deterministic planes
    from a seeded RNG. Returns the same (query_id, neighbor_id, rank)
    shape as :func:`cosine_topk`; recall vs exact is < 1 (the
    scale/latency trade, tuned by ``probe_bits``/``n_planes``)."""
    import itertools
    import random

    probe = (
        embeddings.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .first()
    )
    if probe is None:
        raise ValueError(
            "lsh_ann_topk: no non-null embeddings to derive the vector "
            "dimensionality from"
        )
    dim = len(probe[0])
    rng = random.Random(seed)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]

    P = np.array(planes, dtype=np.float64)  # planes x dim
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def _bucket_udf(v: "pd.Series") -> "pd.Series":
        # all plane projections for an Arrow batch in one BLAS matmul
        # (the interpreted per-plane zip_with fold was n_planes
        # interpreted dots per row — measured ~2x of this op's runtime).
        # NULL / wrong-length embeddings bucket to NULL (dropped by the
        # bucket equi-join) instead of poisoning the whole batch's stack.
        arrs = v.to_numpy()
        valid = np.fromiter(
            (a is not None and len(a) == dim for a in arrs),
            dtype=bool, count=len(arrs),
        )
        out = np.zeros(len(arrs), dtype=np.int64)
        if valid.any():
            M = np.stack(arrs[valid]).astype(np.float64)
            signs = (M @ P.T) >= 0
            out[valid] = signs @ weights
        res = pd.Series(out, dtype="Int64")
        res[~valid] = pd.NA
        return res

    def bucket_col(vec: str) -> "F.Column":
        return _bucket_udf(F.col(vec))

    cand = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
        bucket_col(vec_col).alias("bucket"),
    )
    # probe masks: all bit patterns with <= probe_bits bits set
    masks = [0]
    for r in range(1, max(0, probe_bits) + 1):
        for combo in itertools.combinations(range(n_planes), r):
            m = 0
            for j in combo:
                m |= 1 << j
            masks.append(m)

    q = (
        with_norm(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            F.col("_norm").alias("_qnorm"),
            bucket_col(vec_col).alias("_qbucket"),
        )
        .withColumn("_mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("bucket", F.col("_qbucket").bitwiseXOR(F.col("_mask")))
        .drop("_qbucket", "_mask")
    )
    scored = (
        cand.join(F.broadcast(q), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("_cvec", "_qvec") / (F.col("_cnorm") * F.col("_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             centroid_stride: int = 101, nprobe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-style ANN: coarse-quantize into cells, probe only ``nprobe`` cells.

    The coarse quantizer uses deterministic data-point centroids (every
    vector whose id is a multiple of ``centroid_stride``) — k-means init
    without the refinement iterations, pinned so results are reproducible
    and oracle-checkable. The centroid table is tiny by construction
    (N / stride) and is collected to the driver, exactly as a trained
    quantizer would be broadcast at scale.

    Scale shape (the reason IVF beats brute force at 100 TB):

    * candidate→cell assignment is a map-only Arrow-batched pandas UDF —
      one numpy ``batch × dim @ dim × cells`` matmul per Arrow batch (the
      one place Python earns its keep: dense linear algebra the built-in
      higher-order functions would evaluate element-by-element). No join,
      no shuffle;
    * queries (small by contract) rank cells via a broadcast cross join and
      keep the ``nprobe`` nearest;
    * scoring touches only candidates in probed cells — the scan is cut by
      ~``stride / nprobe``× versus brute force, and recall < 1 is the
      documented trade (same contract as :func:`lsh_ann_topk`).
    """
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.where((F.col(id_col) % centroid_stride) == 0)
        .select(id_col, vec_col)
        .collect()
    )
    if not cents:
        raise ValueError("no centroids: centroid_stride larger than id range")
    return _ivf_probe(embeddings, queries, cents, k, nprobe, vec_col, id_col)


def _ivf_probe(embeddings: DataFrame, queries: DataFrame,
               cents: list[tuple[int, list[float]]], k: int, nprobe: int,
               vec_col: str, id_col: str) -> DataFrame:
    """Shared IVF probe stage: assign candidates to their nearest cell
    (map-only Arrow matmul), rank cells per query, score only probed
    cells. ``cents`` is the trained/selected coarse quantizer —
    driver-held and broadcast, exactly as a trained index would be."""
    spark = embeddings.sparkSession
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))
    cell_ids = np.array([cid for cid, _ in cents], dtype=np.int64)

    @F.pandas_udf("long")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        sims = (m @ cmat.T) / (np.linalg.norm(m, axis=1, keepdims=True) * cnorms)
        # argmax takes the FIRST max; cell_ids ascend, so ties break to the
        # smallest cell id — same rule as the oracle's (sim DESC, cell ASC)
        return pd.Series(cell_ids[np.argmax(sims, axis=1)])

    # the probe join on "cell" pushes an isnotnull(cell) filter below the
    # projection, and the optimizer then evaluates the UDF twice — once
    # under the pushed filter, once in the projection (guide §4.4; the
    # r11 plan capture showed two ArrowEvalPython nodes on this branch).
    # The function is pure, so blocking the duplication cannot change a
    # value — it halves the candidate-side Python matmul round trips.
    nearest_cell = nearest_cell.asNondeterministic()

    assigned = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
        nearest_cell(F.col(vec_col)).alias("cell"),
    )

    cent_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], ["cell", "_centvec"]
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    qcell = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "_csim",
        _dot("_qvec", "_centvec")
        / (
            F.col("_qnorm")
            * F.sqrt(
                F.aggregate(
                    F.col("_centvec"),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )
        ),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cell"))
    probes = (
        qcell.withColumn("_rn", F.row_number().over(wprobe))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cell", "_qvec", "_qnorm")
    )

    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("_cvec", "_qvec") / (F.col("_cnorm") * F.col("_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def kmeans_fit(embeddings: DataFrame, n_iter: int = 3,
               centroid_stride: int = 101, vec_col: str = "embedding",
               id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Distributed spherical k-means (Lloyd's) for the IVF coarse quantizer.

    Deterministic init (every ``centroid_stride``-th data point — the same
    rule :func:`ivf_topk` uses as its untrained quantizer), then ``n_iter``
    refinement rounds. Each round is one Spark job:

    * assign — map-only Arrow-batched pandas UDF: one
      ``batch × dim @ dim × k`` numpy matmul per Arrow batch, argmax
      cosine. No shuffle;
    * update — per-dimension means via ``dim`` built-in ``avg``
      aggregates in ONE ``groupBy(cell)``: partial aggregation map-side,
      the shuffle carries k rows × dim columns, never raw vectors.

    Centroids live on the driver between rounds (k × dim floats — the
    model, not data) exactly as a trained index would. Empty cells keep
    their previous centroid (classic Lloyd's fallback; deterministic).
    Returns ``[(cell_id, centroid)]`` with cells renumbered 0..k-1,
    ready for :func:`_ivf_probe`.

    Not oracle-expressible (iterative refinement is not one SQL query);
    correctness is pinned against a single-node numpy reference
    implementation in tests/test_ann_recall.py instead.
    """
    # n_iter+1 jobs read the vector column (init collect + one
    # assign+update per round): persist it once — same pattern as
    # kmeans_int_fit's qdf and MLlib's iterative trainers. MEMORY_AND_DISK
    # default: at cluster scale the column spills rather than re-scanning
    # the source parquet every round.
    vecs = embeddings.select(id_col, vec_col).persist()
    try:
        init = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in vecs.where((F.col(id_col) % centroid_stride) == 0)
            .collect()
        )
        if not init:
            raise ValueError(
                "no centroids: centroid_stride larger than id range"
            )
        cmat = np.array([v for _, v in init], dtype=np.float64)
        dim = cmat.shape[1]

        for _ in range(n_iter):
            frozen = cmat.copy()
            cnorms = np.linalg.norm(frozen, axis=1)

            @F.pandas_udf("int")
            def nearest(batch: pd.Series) -> pd.Series:
                m = np.array(batch.tolist(), dtype=np.float64)
                sims = (m @ frozen.T) / (
                    np.linalg.norm(m, axis=1, keepdims=True) * cnorms
                )
                return pd.Series(np.argmax(sims, axis=1).astype("int32"))

            means = (
                vecs.select(nearest(F.col(vec_col)).alias("cell"), vec_col)
                .groupBy("cell")
                .agg(
                    *[
                        F.avg(F.col(vec_col)[i]).alias(f"d{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            cmat = frozen.copy()  # empty cells keep their previous centroid
            for r in means:
                cmat[r["cell"]] = [r[f"d{i}"] for i in range(dim)]
    finally:
        vecs.unpersist()
    return [(i, [float(x) for x in cmat[i]]) for i in range(cmat.shape[0])]


def ivf_kmeans_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                    centroid_stride: int = 101, nprobe: int = 2,
                    n_iter: int = 3, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """IVF ANN over a k-means-trained coarse quantizer.

    Same probe plan as :func:`ivf_topk`; the quantizer is trained with
    :func:`kmeans_fit`, which tightens cells around the data's actual
    cluster structure — higher recall at the same ``nprobe`` than the
    stride-sampled quantizer (floor pinned in tests/test_ann_recall.py).
    """
    cents = kmeans_fit(embeddings, n_iter, centroid_stride, vec_col, id_col)
    return _ivf_probe(embeddings, queries, cents, k, nprobe, vec_col, id_col)


def _quantize_expr(vec_col: str, scale: int) -> "F.Column":
    """floor(x * scale + 0.5) as long, elementwise.

    With ``scale`` a power of two the whole chain is EXACT in IEEE
    double — float32→double is exact, ×2^m shifts the exponent only,
    +0.5 cannot round against a 24-bit mantissa, floor is exact — so
    any engine (Spark, numpy, DuckDB) produces the identical integer.
    """
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * float(scale) + 0.5).cast("long"),
    )


def kmeans_int_fit(embeddings: DataFrame, n_iter: int = 3,
                   centroid_stride: int = 101, scale: int = 1024,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> list[tuple[int, list[int]]]:
    """Integer-exact spherical k-means (Lloyd's) — the oracle-checkable
    twin of :func:`kmeans_fit`.

    Two observations make iterative k-means expressible as ONE
    deterministic, engine-independent computation:

    * quantize each vector once to integers (``floor(x*2^m + 0.5)`` —
      exact in double, see :func:`_quantize_expr`), so every dot product
      in training is an INTEGER — order-independent and bit-identical
      across Spark, numpy and a SQL oracle;
    * for COSINE assignment the cluster size cancels: ``cos(x, S/n) =
      cos(x, S)``, so the centroid can be carried as the per-dimension
      integer SUM of its members — updated by exact ``sum(long)``
      aggregates, never a float mean. The only float ops are
      ``dot/sqrt(ss)`` on exactly-representable integers (all < 2^53
      at our scales), and IEEE requires correctly-rounded ``/`` and
      ``sqrt`` — identical bits on every engine.

    Same Spark shape as :func:`kmeans_fit`: assignment is a map-only
    Arrow-batched int64 matmul, the update shuffle carries k rows ×
    dim columns, centroid sums live on the driver between rounds (the
    model, not data). Empty cells keep their previous sum (classic
    Lloyd's fallback). Returns ``[(cell_id, sum_vector)]`` sorted by
    cell id.
    """
    qdf = embeddings.select(
        F.col(id_col), _quantize_expr(vec_col, scale).alias("_qv")
    ).persist()
    try:
        init = sorted(
            (int(r[0]), [int(x) for x in r[1]])
            for r in qdf.where((F.col(id_col) % centroid_stride) == 0).collect()
        )
        if not init:
            raise ValueError(
                "no centroids: centroid_stride larger than id range"
            )
        S = np.array([v for _, v in init], dtype=np.int64)
        cell_ids = np.array([c for c, _ in init], dtype=np.int64)
        dim = S.shape[1]
        pos = {int(c): j for j, c in enumerate(cell_ids)}

        for _ in range(n_iter):
            frozen = S.copy()
            ssn = np.sqrt((frozen.astype(np.float64) ** 2).sum(axis=1))

            @F.pandas_udf("long")
            def nearest(batch: pd.Series) -> pd.Series:
                m = np.array(batch.tolist(), dtype=np.int64)
                sims = (m @ frozen.T).astype(np.float64) / ssn
                # argmax takes the FIRST max; cell_ids ascend, so ties
                # break to the smallest cell id — the oracle's
                # (sim DESC, cell ASC)
                return pd.Series(cell_ids[np.argmax(sims, axis=1)])

            sums = (
                qdf.select(nearest(F.col("_qv")).alias("cell"), "_qv")
                .groupBy("cell")
                .agg(*[F.sum(F.col("_qv")[i]).alias(f"d{i}") for i in range(dim)])
                .collect()
            )
            S = frozen.copy()  # empty cells keep their previous sum
            for r in sums:
                S[pos[int(r["cell"])]] = [int(r[f"d{i}"]) for i in range(dim)]
    finally:
        qdf.unpersist()
    return [(int(cell_ids[j]), [int(x) for x in S[j]]) for j in range(len(cell_ids))]


def ivf_kmeans_int_topk(embeddings: DataFrame, queries: DataFrame,
                        k: int = 10, centroid_stride: int = 101,
                        nprobe: int = 2, n_iter: int = 3, scale: int = 1024,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """IVF ANN over the integer-exact k-means quantizer — fully
    oracle-checkable (fixed-iteration unrolled SQL twin), unlike the
    float :func:`ivf_kmeans_topk`.

    Probe plan shape is :func:`_ivf_probe`'s: candidate→cell assignment
    is a map-only Arrow int64 matmul (no shuffle), query→cell ranking a
    broadcast join over the k trained sums, final scoring EXACT float64
    cosine on the original embeddings restricted to probed cells.
    """
    cents = kmeans_int_fit(
        embeddings, n_iter, centroid_stride, scale, vec_col, id_col
    )
    spark = embeddings.sparkSession
    S = np.array([v for _, v in cents], dtype=np.int64)
    cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
    ssn = np.sqrt((S.astype(np.float64) ** 2).sum(axis=1))

    # quantize candidates JVM-side (same exact expression as training),
    # then assign via the int64 matmul
    @F.pandas_udf("long")
    def nearest_cell_q(qvecs: pd.Series) -> pd.Series:
        m = np.array(qvecs.tolist(), dtype=np.int64)
        sims = (m @ S.T).astype(np.float64) / ssn
        return pd.Series(cell_ids[np.argmax(sims, axis=1)])

    # same §4.4 dedup as _ivf_probe's nearest_cell: the probe join pushes
    # isnotnull(cell) under the projection and doubles the ArrowEvalPython
    # node; the assignment is pure, so this is plan-only
    nearest_cell_q = nearest_cell_q.asNondeterministic()

    assigned = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
        nearest_cell_q(_quantize_expr(vec_col, scale)).alias("cell"),
    )

    cent_df = spark.createDataFrame(
        [(cid, v, int(sum(x * x for x in v))) for cid, v in cents],
        "cell long, _s array<long>, _ss long",
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
        _quantize_expr(vec_col, scale).alias("_qqv"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("_qqv"), F.col("_s"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qcell = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "_csim", idot.cast("double") / F.sqrt(F.col("_ss").cast("double"))
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cell"))
    probes = (
        qcell.withColumn("_rn", F.row_number().over(wprobe))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cell", "_qvec", "_qnorm")
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("_cvec", "_qvec") / (F.col("_cnorm") * F.col("_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def quantized_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                   prune: int = 50, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Two-stage ANN: int8 scalar quantization prune, exact rescore.

    The 100 TB memory path: each vector is quantized per-vector to int8
    (``q_i = floor(127 * x_i / max|x| + 0.5)``) — 4x smaller than float32,
    8x smaller than the float64 scoring width, which is the difference
    between a broadcast/shuffle that fits and one that spills. Stage 1
    ranks candidates by quantized cosine where the dot product and both
    norms are *integer* sums (exact, order-independent — the one float op
    is a single division, deterministic across engines and partitionings);
    only the ``prune`` best per query graduate to stage 2's exact float64
    cosine. With ``prune >> k`` the int8 ranking noise stays below the
    cut line, so the final top-k matches exact search on real embedding
    distributions while stage 2 touches ``prune`` rows per query instead
    of N.

    Returns (query_id, neighbor_id, rank), rank <= k.
    """
    def quantize(df: DataFrame, prefix: str) -> DataFrame:
        vec = F.col(vec_col)
        scale = F.greatest(
            F.aggregate(
                vec, F.lit(0.0),
                lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
            ),
            F.lit(1e-30),
        )
        df = df.withColumn("_scale", scale)
        qvec = F.transform(
            vec,
            lambda x: F.floor(x.cast("double") * 127.0 / F.col("_scale") + 0.5).cast("long"),
        )
        df = df.withColumn("_qv", qvec)
        qnorm = F.aggregate(
            F.col("_qv"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        )
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"_{prefix}vec"),
            F.col("_qv").alias(f"_{prefix}qv"),
            qnorm.alias(f"_{prefix}qn"),
        )

    cand = quantize(embeddings, "neighbor")
    q = quantize(queries, "query")
    qdot = F.aggregate(
        F.zip_with(F.col("_neighborqv"), F.col("_queryqv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stage1 = (
        cand.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "_qsim",
            qdot.cast("double")
            / F.sqrt((F.col("_neighborqn") * F.col("_queryqn")).cast("double")),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("_qsim"), F.asc("neighbor_id"))
    pruned = stage1.withColumn("_prn", F.row_number().over(w1)).where(
        F.col("_prn") <= prune
    )
    # stage 2: exact float64 cosine on the surviving prune-set only
    nn = F.sqrt(
        F.aggregate(
            F.col("_neighborvec"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    qn = F.sqrt(
        F.aggregate(
            F.col("_queryvec"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    rescored = pruned.withColumn("sim", _dot("_neighborvec", "_queryvec") / (nn * qn))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def cosine_pairs(embeddings: DataFrame, threshold: float,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 block_rows: int = 2048,
                 group_col: str | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, ids only.

    Distributed block-matrix scoring: rows hash into B ≈ N/block_rows
    blocks, each row ships once into each of its B block-pair groups
    (an O(N·B) shuffle with every group bounded at ~2·block_rows rows),
    and each group computes its cosine grid as ONE float64 BLAS matmul
    inside ``applyInPandas`` — vectorized Arrow batches, never a
    per-pair interpreted dot product (the nested-loop join this
    replaces measured 93 s at sf0.1; this form ~3 s). Every unordered
    pair lands in exactly one group, so no dedup pass is needed.
    Exhaustive scoring is quadratic in compute by definition — the
    100 TB path prunes candidates first (:func:`lsh_ann_topk` banding /
    :func:`semantic_dedup` clustering) and uses this as its exact
    baseline. Output (a_id, b_id), a < b.
    """
    if group_col is None:
        n = embeddings.count()
    else:
        # blocks are sized by the LARGEST group: small groups waste a
        # little fan-out into empty partner blocks, which is cheap
        n = (
            embeddings.groupBy(group_col).count()
            .agg(F.max("count")).collect()[0][0]
        ) or 0
    nblocks = max(1, -(-n // max(block_rows, 1)))
    gcols = [group_col] if group_col else []
    e = embeddings.select(
        *gcols,
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).alias("_g"),
    )
    fanned = e.select(
        *gcols, "_id", "_v", "_g",
        F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("_p"),
    ).select(
        *gcols, "_id", "_v", "_g",
        F.least("_g", "_p").alias("_gi"),
        F.greatest("_g", "_p").alias("_gj"),
    )

    def score(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = key[-2], key[-1]
        left = pdf[pdf["_g"] == gi]
        right = pdf[pdf["_g"] == gj]
        if len(left) == 0 or len(right) == 0:
            empty = pd.Series(dtype=pdf["_id"].dtype)
            return pd.DataFrame({"a_id": empty, "b_id": empty})
        la = np.stack(left["_v"].to_numpy())
        rb = np.stack(right["_v"].to_numpy())
        la = la / np.linalg.norm(la, axis=1, keepdims=True)
        rb = rb / np.linalg.norm(rb, axis=1, keepdims=True)
        sims = la @ rb.T
        ida = left["_id"].to_numpy()
        idb = right["_id"].to_numpy()
        if gi == gj:
            # left == right: each unordered pair appears twice in the
            # grid; keep the a < b orientation once
            mask = (sims >= threshold) & (ida[:, None] < idb[None, :])
            ai, bi = np.nonzero(mask)
            a, b = ida[ai], idb[bi]
        else:
            # cross-block: each unordered pair appears once; orient it
            ai, bi = np.nonzero(sims >= threshold)
            a, b = ida[ai], idb[bi]
            a, b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"a_id": a, "b_id": b})

    # output id type follows the input id column (string/int ids both
    # supported — np.minimum/maximum and < compare object arrays
    # elementwise), not a hardcoded long
    id_t = embeddings.schema[id_col].dataType.simpleString()
    return fanned.groupBy(*gcols, "_gi", "_gj").applyInPandas(
        score, f"a_id {id_t}, b_id {id_t}"
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): compare
    embeddings only *within a cluster* (here the ``label_col`` — in
    production the assignment from :func:`kmeans_fit`), drop a vector iff
    some smaller-id vector in the same cluster has cosine >= threshold.

    The drop rule is order-free (same as ``incremental_near_dedup``): no
    greedy chain, so the decision parallelizes and is stable under any
    partitioning. Returns the kept rows ``(id, label)``.

    Scale shape: the cluster key bounds the quadratic scoring — pairwise
    cost is sum over clusters of |c|^2, not N^2 (the entire point of
    SemDeDup). Scoring delegates to :func:`cosine_pairs` grouped by the
    cluster key: within each cluster the same block-matrix
    decomposition applies, so a fat cluster is split into bounded
    (~2*block_rows-row) block-pair tasks scored by one BLAS matmul each
    — no per-pair interpreted dot products, and no single-task fat
    cluster (measured 2.6x at sf0.1).
    """
    # NULL-labeled vectors are unclustered: they score against nothing
    # (the old equi-join's NULL-never-matches semantics), so they are
    # always kept — groupBy would otherwise pool all NULLs into one
    # pseudo-cluster and dedup them against each other
    dropped = (
        cosine_pairs(
            embeddings.where(F.col(label_col).isNotNull()),
            threshold, vec_col=vec_col, id_col=id_col,
            group_col=label_col,
        )
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    return embeddings.select(id_col, label_col).join(
        dropped, id_col, "left_anti"
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 20,
    depth: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack & Clarke) of
    the BM25 lexical top-``depth`` and the dense cosine top-``depth`` —
    the standard way a RAG stack combines keyword and embedding search.

    score(d) = Σ_lists 1/(rrf_k + rank_list(d)); docs missing from a list
    contribute 0 for it. Ranks come from the engine-stable orderings of
    :func:`fourmc_spark.operators.text.bm25_topk` and
    :func:`cosine_topk`, so the fusion is deterministic end to end.

    Scale shape: each retrieval leg keeps its own 100 TB posture (see the
    leg operators); fusion then touches only two ``depth``-row lists —
    the full-outer join and final sort are broadcast-trivial at any
    corpus size.
    """
    from fourmc_spark.operators.text import bm25_topk

    lex = bm25_topk(docs, query_terms, k=depth, id_col=id_col)
    # depth rows total: the single-partition ranking window is fine
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    lex = lex.select(
        id_col, F.row_number().over(w).cast("long").alias("lex_rank")
    )
    q = embeddings.where(F.col("vec_id") == query_vec_id)
    dense = cosine_topk(embeddings, q, k=depth).select(
        F.col("neighbor_id").alias(id_col),
        F.col("rank").cast("long").alias("dense_rank"),
    )
    fused = lex.join(dense, id_col, "full_outer")
    contrib = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(), F.lit(1.0) / (F.lit(rrf_k) + F.col(c))
    ).otherwise(F.lit(0.0))
    return (
        fused.select(
            id_col,
            "lex_rank",
            "dense_rank",
            F.round(contrib("lex_rank") + contrib("dense_rank"), 6).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def label_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    round_to: int = 6) -> DataFrame:
    """Per-label centroid, one output row per (label, dimension) — class
    prototypes for semantic dedup / nearest-class assignment / cluster
    profiling.

    posexplode fans each vector into (label, pos, coord); a single
    partial+final hash aggregate on (label, pos) averages coordinates, so
    the shuffle carries labels x dim partially-aggregated rows, never
    vectors. Exploded output (instead of an array column) keeps the
    result exactly comparable across engines.
    """
    return (
        embeddings.select(
            F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "coord")
        )
        .groupBy(label_col, "pos")
        .agg(
            F.round(F.avg("coord"), round_to).alias("centroid"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            F.col(label_col),
            F.col("pos").cast("long").alias("pos"),
            "centroid",
            "n",
        )
        .orderBy(label_col, "pos")
    )


def assign_to_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid assignment + confusion matrix: every vector is
    assigned to the closest class prototype (squared L2 against the
    :func:`label_centroids` prototypes), and the output is the
    (true_label, assigned_label, n) contingency table — the standard
    auto-labeling / cluster-purity audit for embedding corpora.

    Determinism across engines: centroid coordinates are rounded before
    use, squared distances accumulate in index order (``aggregate`` over
    ``zip_with``, not a hash-agg float sum), distances are rounded, and
    argmin ties break on the smaller label via a ``min(struct)``.

    Scale shape: the prototype table is labels x dim (tiny) and is
    broadcast as label-keyed arrays, so scoring is a map-side cross
    product — the corpus never shuffles; the argmin is a per-vector
    partial+final aggregate and the confusion matrix aggregate emits at
    most labels^2 rows.
    """
    cents = label_centroids(embeddings, label_col, vec_col, round_to)
    carr = cents.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("cvec")
    ).select(F.col(label_col).cast("long").alias("cand_label"), "cvec")
    scored = embeddings.crossJoin(F.broadcast(carr)).withColumn(
        "dist2",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col("cvec"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            round_to,
        ),
    )
    assigned = (
        scored.groupBy(id_col, label_col)
        .agg(F.min(F.struct(F.col("dist2"), F.col("cand_label"))).alias("b"))
        .select(
            F.col(label_col).cast("long").alias("true_label"),
            F.col("b.cand_label").alias("assigned_label"),
        )
    )
    return assigned.groupBy("true_label", "assigned_label").agg(
        F.count("*").cast("long").alias("n")
    )


def random_projection(embeddings: DataFrame, out_dim: int = 8,
                      seed: int = 113, scale: int = 1000,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Johnson-Lindenstrauss random projection, INTEGER-EXACT.

    Both the input vector and the seeded Gaussian projection matrix are
    quantized to ``scale`` milli-units, so each output component is an
    exact int64 dot product — bit-identical on any engine, any summation
    order (the reason this is oracle-checkable where float JL is not).
    The standard uses: cheap dimensionality reduction before clustering /
    visualization, and compact pre-filter sketches for ANN (hyperplane
    LSH is the sign() of exactly this projection).

    Scale shape: the matrix is (out_dim x dim) driver-held constants
    broadcast into a vectorized Arrow matmul — map-only, no shuffle.
    Output: (id, proj array<long>).
    """
    from pyspark.sql.types import ArrayType, LongType

    probe = (
        embeddings.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    )
    if probe is None:
        raise ValueError("random_projection: no non-null embeddings")
    dim = len(probe[0])
    Gm = np.array(
        projection_matrix(dim, out_dim, seed, scale), dtype=np.int64
    )  # out_dim x dim

    @F.pandas_udf(ArrayType(LongType()))
    def _proj(v: "pd.Series") -> "pd.Series":
        arrs = v.to_numpy()
        valid = np.fromiter(
            (a is not None and len(a) == dim for a in arrs),
            dtype=bool, count=len(arrs),
        )
        out = np.empty(len(arrs), dtype=object)
        if valid.any():
            M = np.stack(arrs[valid]).astype(np.float64)
            Q = np.rint(M * scale).astype(np.int64)
            P = Q @ Gm.T  # exact: |q| * |g| * dim << 2^63
            rows = list(P)
            j = 0
            for i in range(len(arrs)):
                if valid[i]:
                    out[i] = rows[j]
                    j += 1
        return pd.Series(out)

    return embeddings.select(
        F.col(id_col), _proj(F.col(vec_col)).alias("proj")
    )


def projection_matrix(dim: int, out_dim: int, seed: int = 113,
                      scale: int = 1000) -> list:
    """The quantized Gaussian matrix (out_dim x dim) — exposed so oracles
    can inline the identical constants."""
    import random as _random

    rng = _random.Random(seed)
    return [
        [int(round(rng.gauss(0, 1) * scale)) for _ in range(dim)]
        for _ in range(out_dim)
    ]
