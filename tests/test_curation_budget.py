"""Semantics pins for token_budget_select and assign_to_centroids.

token_budget_select: budget is enforced per source at hash-bucket
granularity (prefix of the bucket-ordered histogram), membership is a
pure function of the row key (stable under re-partitioning), and a
source whose first bucket alone exceeds the budget selects nothing.

assign_to_centroids: hand-built vectors with known nearest prototypes;
argmin ties break toward the smaller label.
"""

import warnings

import pytest
from pyspark.sql import functions as F

from fourmc_spark.operators import curation, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_token_budget_is_bucket_prefix_per_source(spark):
    rows = [(i, "a", "w " * 9 + "w") for i in range(40)]  # 10 tokens each
    df = _docs(spark, rows)
    out = curation.token_budget_select(df, budget_tokens=100).toPandas()
    # kept cumulative tokens never exceed the budget, and the kept set is
    # a prefix of the bucket order: every kept bucket < every dropped one
    assert out.n_tokens.sum() <= 100
    kept = set(out.doc_id)
    all_b = {
        r["doc_id"]: r["bucket"]
        for r in df.select(
            "doc_id", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("bucket")
        ).collect()
    }
    dropped = set(all_b) - kept
    if kept and dropped:
        assert max(all_b[d] for d in kept) <= min(all_b[d] for d in dropped)


def test_token_budget_membership_stable_under_partitioning(spark):
    rows = [(i, "s" + str(i % 3), "tok " * (i % 7) + "end") for i in range(120)]
    df = _docs(spark, rows)
    a = sorted(
        r["doc_id"]
        for r in curation.token_budget_select(df, budget_tokens=60).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in curation.token_budget_select(
            df.repartition(13, "text"), budget_tokens=60
        ).collect()
    )
    assert a == b


def test_token_budget_oversized_first_bucket_selects_nothing(spark):
    df = _docs(spark, [(1, "big", "x " * 499 + "x")])  # 500 tokens, budget 10
    assert curation.token_budget_select(df, budget_tokens=10).count() == 0


def test_assign_to_centroids_known_prototypes(spark):
    # label 0 clusters at (0,0), label 1 at (10,0); one label-0 vector
    # sits at (9,0) — closer to label 1's centroid → off-diagonal cell
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [9.0, 0.0], 0),
        (4, [10.0, 0.0], 1),
        (5, [11.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r["true_label"], r["assigned_label"]): r["n"]
        for r in similarity.assign_to_centroids(df).collect()
    }
    # centroid(0) = (10/3, 0), centroid(1) = (10.5, 0): vec 3 at x=9 is
    # 5.67 from c0 and 1.5 from c1 → assigned 1
    assert out == {(0, 0): 2, (0, 1): 1, (1, 1): 2}


def test_assign_to_centroids_tie_breaks_to_smaller_label(spark):
    # centroids land at 0 (label 0: -1, 1) and 2 (label 1: 1, 3); the
    # two vectors at x=1 are exactly equidistant from both centroids
    rows = [
        (1, [-1.0], 0),
        (2, [1.0], 0),
        (3, [1.0], 1),
        (4, [3.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r["true_label"], r["assigned_label"]): r["n"]
        for r in similarity.assign_to_centroids(df).collect()
    }
    assert out == {(0, 0): 2, (1, 0): 1, (1, 1): 1}


def test_cosine_pairs_block_decomposition_exact(spark):
    """Tiny block_rows forces many block-pair groups; the result must be
    identical to the single-block (all-pairs) computation, each pair
    exactly once, a < b."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    single = {
        (r["a_id"], r["b_id"])
        for r in similarity.cosine_pairs(df, 0.5, block_rows=10_000).collect()
    }
    with warnings.catch_warnings():
        # a partially annotated applyInPandas function makes Spark warn
        # that it cannot infer the eval type
        warnings.simplefilter("error", UserWarning)
        blocked_df = similarity.cosine_pairs(df, 0.5, block_rows=7)
    blocked_rows = blocked_df.collect()
    blocked = {(r["a_id"], r["b_id"]) for r in blocked_rows}
    assert blocked == single and len(blocked_rows) == len(blocked)
    assert all(a < b for a, b in blocked)
    assert len(single) > 0


def test_pack_token_sequences_semantics(spark):
    # docs concatenate in id order within a group, sequences cut every
    # seq_len tokens CROSSING doc boundaries, trailing partial emitted
    from fourmc_spark.operators.curation import pack_token_sequences

    rows = [
        ("s1", 1, ["a", "b", "c"]),
        ("s1", 2, ["d", "e"]),
        ("s1", 3, ["f", "g", "h", "i"]),
        ("s2", 4, ["x"]),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "tokens"])
    got = {
        (r["source"], r["seq_id"]): (list(r["tokens"]), r["n_tokens"])
        for r in pack_token_sequences(df, seq_len=4).collect()
    }
    assert got == {
        ("s1", 0): (["a", "b", "c", "d"], 4),   # crosses doc 1 -> 2
        ("s1", 1): (["e", "f", "g", "h"], 4),   # crosses doc 2 -> 3
        ("s1", 2): (["i"], 1),                  # trailing partial
        ("s2", 0): (["x"], 1),
    }
