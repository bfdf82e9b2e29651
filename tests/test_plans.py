"""Plan regression suite: pins the physical-plan properties PLANS.md
claims for the 100 TB posture. If a change turns a pushed-down filter
into a post-scan filter, a broadcast into a shuffle, or a top-k into a
total sort, these fail — before a cluster run ever would.
"""

import pytest

from fourmc_spark.plans import (
    broadcast_join_count,
    exchange_count,
    has_pushed_filter,
    physical_plan,
    read_schema_columns,
    wholestage_codegen_spans,
)


@pytest.fixture(scope="module")
def queries():
    from fourmc_spark.queries import QUERIES

    return QUERIES


def test_q01_filter_and_projection_reach_the_scan(spark, sf_dir, queries):
    df = queries["q01_filter_project"](spark, sf_dir)
    assert has_pushed_filter(df, "GreaterThan(l_quantity")
    schemas = read_schema_columns(df)
    assert schemas and all(len(s) <= 3 for s in schemas), (
        f"scan reads more than the 3 projected columns: {schemas}"
    )


def test_q01_runs_in_wholestage_codegen(spark, sf_dir, queries):
    # the codegen explain reports 0 under AQE until runtime; disable it for
    # the check so the compiled spans are visible at plan time
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = queries["q01_filter_project"](spark, sf_dir)
        assert wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_q15_topk_never_total_sorts(spark, sf_dir, queries):
    plan = physical_plan(queries["q15_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # a range-partitioned total sort before the limit would be the 100 TB bug
    assert "rangepartitioning" not in plan.lower().replace("takeordered", "")


def test_q08_broadcasts_dims_and_streams_lineitem(spark, sf_dir, queries):
    df = queries["q08_multijoin_revenue"](spark, sf_dir)
    # at test SF everything is small so Catalyst may broadcast every side;
    # the invariant worth pinning is: joins exist and lineitem is never
    # the build (broadcast) side of any of them.
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 2
    for line in plan.splitlines():
        if "BroadcastExchange" in line or "BroadcastQueryStage" in line:
            assert "lineitem" not in line.lower()


def test_q04_agg_is_partial_then_final(spark, sf_dir, queries):
    plan = physical_plan(queries["q04_tpch_q1_agg"](spark, sf_dir))
    # map-side combine: two HashAggregate layers around one exchange
    assert plan.count("HashAggregate") >= 2


def test_q13_window_shuffles_once_on_the_partition_key(spark, sf_dir, queries):
    df = queries["q13_window_rank"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan or "WindowGroupLimit" in plan
    # one hash exchange for the window; the final orderBy adds one range
    assert exchange_count(df) <= 2


def test_q35_session_window_partial_aggregates(spark, sf_dir, queries):
    # batch SessionWindow: map-side partial agg, ONE hash exchange on the
    # session key into MergingSessions (plus the output orderBy's range
    # exchange) — a second hash exchange would re-shuffle all events
    df = queries["q35_session_window_batch"](spark, sf_dir)
    plan = physical_plan(df)
    assert "MergingSessions" in plan
    assert exchange_count(df) <= 2


def test_q36_range_frame_single_window_exchange(spark, sf_dir, queries):
    # both window specs partition on l_suppkey: one hash exchange feeds
    # both Window operators (plus the final orderBy's range exchange)
    df = queries["q36_range_frame"](spark, sf_dir)
    assert exchange_count(df) <= 2


def test_q37_exists_becomes_semi_and_anti_joins(spark, sf_dir, queries):
    # EXISTS / NOT EXISTS must decorrelate to semi/anti joins — a
    # correlated per-row subquery re-execution would be the 100 TB bug
    plan = physical_plan(queries["q37_exists_subquery"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q30_join_keys_carry_the_salt(spark, sf_dir, queries):
    plan = physical_plan(queries["q30_salted_skew_join"](spark, sf_dir))
    assert "_salt" in plan


def test_q31_sample_is_a_scan_level_filter(spark, sf_dir, queries):
    df = queries["q31_hash_sample"](spark, sf_dir)
    # the md5 predicate can't push into parquet, but it must run inside
    # the scan's codegen stage — no exchange before the filter, and the
    # only exchange in the whole plan is the final orderBy's range one.
    assert exchange_count(df) <= 1


def test_q25_uses_mergeable_sketch_not_distinct_shuffle(spark, sf_dir, queries):
    plan = physical_plan(queries["q25_approx_distinct"](spark, sf_dir))
    assert "approx_count_distinct" in plan
    assert "Expand" not in plan  # a count(DISTINCT) rewrite would add one


def test_bucketed_join_needs_no_exchange(spark, sf_dir, tmp_path):
    from fourmc_spark.plans import bucketed_join, write_bucketed

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(cust, "b_cust", "c_custkey", n_buckets=4,
                   path=str(tmp_path / "b_cust"))
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"), "b_ord", "c_custkey",
        n_buckets=4, path=str(tmp_path / "b_ord"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at test SF Catalyst would broadcast (bypassing bucketed reading
    # entirely); force the shuffle-join path the 100 TB case would take
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "b_cust", "b_ord", "c_custkey")
        assert exchange_count(j) == 0, physical_plan(j)
        # and the result is still correct
        plain = cust.join(
            orders.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey"
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_cust")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_unbucketed_same_join_does_exchange(spark, sf_dir):
    # control for the bucketed test: the identical join over plain parquet
    # shuffles (or broadcasts); bucketing is what removed the Exchange.
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    j = cust.join(orders.hint("merge"), "c_custkey")
    assert exchange_count(j) >= 1


def test_salted_join_correct_under_heavy_skew(spark):
    # 90% of facts share ONE key — the shape that stalls a plain shuffle
    # join on a single reducer. Salting must spread it AND stay
    # result-identical to the plain join.
    from pyspark.sql import functions as F

    from fourmc_spark.operators.joins import salted_join

    facts = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 100))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(100)], ["k", "w"]
    )
    salted = salted_join(facts, dim, on="k", n_salts=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    plain = facts.join(dim, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_tpch_q03_topk_never_total_sorts(spark, sf_dir, queries):
    plan = physical_plan(queries["tpch_q03_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_tpch_q06_predicates_reach_the_scan(spark, sf_dir, queries):
    df = queries["tpch_q06_forecast_revenue"](spark, sf_dir)
    assert has_pushed_filter(df, "LessThan(l_quantity")
    assert has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    # 4-column ReadSchema: shipdate/discount/quantity/extendedprice
    schemas = read_schema_columns(df)
    assert schemas and all(len(s) <= 4 for s in schemas), schemas


def test_tpch_q04_exists_is_a_semi_join(spark, sf_dir, queries):
    plan = physical_plan(queries["tpch_q04_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_tpch_q09_lineitem_never_broadcast(spark, sf_dir, queries):
    df = queries["tpch_q09_profit"](spark, sf_dir)
    assert broadcast_join_count(df) >= 2
    for line in physical_plan(df).splitlines():
        if "BroadcastExchange" in line or "BroadcastQueryStage" in line:
            assert "lineitem" not in line.lower()


def test_tpch_q18_aggregates_before_joining(spark, sf_dir, queries):
    # lineitem must reduce to qualifying orderkeys BEFORE the orders join:
    # partial+final HashAggregate with the having filter, then the join,
    # then TakeOrderedAndProject — never join-then-aggregate.
    plan = physical_plan(queries["tpch_q18_large_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                   plan.find("ShuffledHashJoin"))
    assert agg_pos != -1 and join_pos != -1


def _selective_fact_dim_join(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("s"))
    )


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    # the 100 TB selective-dim shuffle join: Catalyst must inject a Bloom
    # `might_contain` probe on the fact side BELOW its exchange, so
    # non-matching rows die before the shuffle. Broadcast is disabled to
    # get the shuffle join this posture is about (at cluster scale the
    # size estimates do that), thresholds opened so tiny local inputs
    # qualify (the defaults gate on a >= 10 GB fact scan).
    from fourmc_spark.plans import runtime_bloom_filter_count, runtime_bloom_filters

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with runtime_bloom_filters(spark):
            df = _selective_fact_dim_join(spark, sf_dir)
            assert runtime_bloom_filter_count(df) >= 1
        with runtime_bloom_filters(spark, enabled=False):
            df = _selective_fact_dim_join(spark, sf_dir)
            assert runtime_bloom_filter_count(df) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bpe_pairs_topk_is_distributed(spark, sf_dir, queries):
    plan = physical_plan(queries["text_bpe_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower().replace("takeordered", "")


def test_semantic_dedup_pairwise_join_is_hashed_on_cluster_key(
    spark, sf_dir, queries
):
    # the SemDeDup point: the pairwise comparison must be an equi-join on
    # the cluster key (a<b riding as a filter), never a nested-loop cross
    # product over the corpus
    plan = physical_plan(queries["dedup_semantic"](spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_canonicalize_corpus_side_joins_are_broadcast(spark, sf_dir):
    # the corpus receives its verdict via broadcast left joins of the two
    # small maps (components, representatives) — a shuffle of the corpus
    # on component id would be the 100 TB bug
    from fourmc_spark.operators import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a_id long, b_id long"
    )
    df = graph.canonicalize(docs, edges)
    assert broadcast_join_count(df) >= 2


def test_pagerank_fabric_is_cached_not_rederived(spark, sf_dir, queries):
    # each Pregel round references the (edge, outdeg) fabric; it must come
    # from the cache, not a fresh scan+join chain per round
    df = queries["graph_pagerank"](spark, sf_dir)
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_global_chunk_dedup_election_is_hash_aggregated(
    spark, sf_dir, queries
):
    # min over the PACKED occurrence long must plan a HashAggregate;
    # min(struct) regressed to SortAggregate (sorts every partition)
    df = queries["dedup_global_chunks"](spark, sf_dir)
    plan = physical_plan(df)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_token_budget_filter_is_broadcast_not_corpus_shuffle(
    spark, sf_dir, queries
):
    # the corpus-side filter must be a broadcast join against the tiny
    # per-source cutoff table; the only shuffles belong to the histogram
    # aggregate + its window (metadata-sized), never the document rows
    df = queries["curation_token_budget"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_assign_centroids_prototypes_broadcast(spark, sf_dir, queries):
    # labels x dim prototype arrays broadcast into a map-side cross
    # product; vectors must never be the build side or sort-merge joined
    df = queries["embedding_assign_centroid"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_cosine_pairs_is_blocked_pandas_not_nested_loop(spark, sf_dir, queries):
    # the pairwise scorer must be the block-matrix applyInPandas plan;
    # a BroadcastNestedLoopJoin here is the 93s-at-sf0.1 regression
    plan = physical_plan(queries["dedup_embedding_pairs"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_observed_counters_ride_the_same_job(spark, sf_dir):
    from pyspark.sql import functions as F

    from fourmc_spark.plans import observed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged, obs_in = observed(docs, "docs_in")
    kept = staged.where(F.col("n_chars") > 200)
    kept2, obs_kept = observed(
        kept, "docs_kept",
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars").alias("chars"),
    )
    n = kept2.count()  # ONE action drives both observations
    assert obs_in.get["rows"] == docs.count()
    assert obs_kept.get["rows"] == n
    assert obs_kept.get["chars"] > 200 * n


def test_session_enables_python_filter_pushdown(spark):
    # pushFilters pruning (offset/partition-column) is gated behind this
    # conf; losing it silently reverts every scan to full planning
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"


def test_ivf_kmeans_assignment_is_map_only(spark, sf_dir, queries):
    # candidate->cell assignment must be the Arrow matmul projection with
    # no Exchange between the embeddings scan and the pandas UDF; the
    # only exchanges in the whole query are the probe-join broadcast and
    # the final per-query window
    from pyspark.sql import functions as F

    from fourmc_spark.operators.similarity import (
        ivf_kmeans_int_topk, kmeans_int_fit,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    df = ivf_kmeans_int_topk(e, q)
    plan = physical_plan(df)
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    assert "BroadcastExchange" in plan  # probes broadcast, not shuffled
    assert "CartesianProduct" not in plan
    # the whole query's shuffle budget: TWO shuffle exchanges — the
    # probe-ranking window over the tiny query x cells frame and the
    # final per-query ranking window. Assignment must stay scan ->
    # pandas UDF with no exchange in between; a third shuffle here IS
    # the map-only regression this pin exists to catch.
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert shuffles <= 2, f"assignment stopped being map-only:\n{plan}"
    # the training rounds: assignment scan -> pandas UDF -> ONE
    # partial+final agg shuffle per round and nothing else
    from fourmc_spark.operators.similarity import _quantize_expr
    import numpy as np
    import pandas as pd

    qdf = e.select(F.col("vec_id"), _quantize_expr("embedding", 1024).alias("_qv"))

    @F.pandas_udf("long")
    def fake_cell(batch: pd.Series) -> pd.Series:
        return pd.Series(np.zeros(len(batch), dtype=np.int64))

    round_df = (
        qdf.select(fake_cell(F.col("_qv")).alias("cell"), "_qv")
        .groupBy("cell")
        .agg(F.sum(F.col("_qv")[0]).alias("d0"))
    )
    assert exchange_count(round_df) == 1, physical_plan(round_df)
    cents = kmeans_int_fit(e, n_iter=1)
    assert len(cents) > 0


def test_pack_tokens_shuffles_are_bounded(spark, sf_dir, queries):
    # one doc-level window exchange + one (group, seq_id) regroup — the
    # regroup key holds exactly seq_len tokens, so no skew is possible;
    # a plan that sorts the exploded tokens globally would be a regression
    from fourmc_spark.operators.curation import pack_token_sequences

    enc = spark.createDataFrame(
        [("s", i, ["t"] * 10) for i in range(50)],
        ["source", "doc_id", "tokens"],
    )
    df = pack_token_sequences(enc, seq_len=16)
    plan = physical_plan(df)
    assert "GlobalSort" not in plan and "rangepartitioning" not in plan.lower()
    assert exchange_count(df) <= 2, physical_plan(df)


def test_ycck_dispatch_kernel_is_map_only(spark, sf_dir, queries):
    # the YCCK seam query keeps the JPEG-family shape: a balanced-id
    # exchange then ONE MapInPandas, the final sort's range exchange,
    # and nothing else — no join, no aggregate shuffle, payloads never
    # shuffled (the kernel synthesizes and consumes them in place)
    from fourmc_spark.operators.multimodal import jpeg_ycck_dispatch_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = jpeg_ycck_dispatch_stats(docs)
    plan = physical_plan(df)
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    # no keyed shuffle at all (exchange_count counts hash/range/single
    # exchanges); the only Exchange is the round-robin id balancer
    assert exchange_count(df) == 0, plan
    assert plan.count("Exchange RoundRobinPartitioning") == 1, plan


def test_sql_4mc_pruned_scan_prunes_blocks(spark, tmp_path):
    """The sql_4mc_pruned_scan gate query's layout really prunes at
    planning: the pushed offset >= cutoff drops every block below the
    cutoff from the partition plan (S1b), it doesn't just post-filter."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import CaseInsensitiveDict, GreaterThanOrEqual
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format.reader import scan_file_info
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, iter_slices,
    )

    d = str(tmp_path / "pruned4mc")
    n = 2048  # 16 blocks of 128 fixed-width 32-byte lines
    df = spark.range(n).select(
        F.concat_ws(
            ",",
            F.lpad(F.col("id").cast("string"), 10, "0"),
            F.lpad(F.col("id").cast("string"), 10, "0"),
            F.rpad(F.lit("t"), 9, " "),
        ).alias("value"),
        "id",
    )
    (df.repartition(1).sortWithinPartitions("id").select("value")
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 4096).mode("overwrite").save(d))
    import glob
    (path,) = glob.glob(f"{d}/part-*.4mz")
    _, _, offsets = scan_file_info(path)
    assert len(offsets) == 16
    jcut = 8
    cutoff = offsets[jcut]

    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    opts = CaseInsensitiveDict({"path": d, "maxpartitionbytes": "4096"})
    full = len([*iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())])
    rd = FourMcDataSourceReader(opts, schema)
    list(rd.pushFilters([GreaterThanOrEqual(("offset",), cutoff)]))
    pruned = len([*iter_slices(rd.partitions())])
    assert 0 < pruned < full  # blocks below the cutoff left the PLAN

    # and the surviving rows are exactly ids > jcut*128 (Hadoop-style
    # preceding-byte ownership: boundary lines belong to the prior block)
    back = (spark.read.format("fourmc").load(d)
            .where(F.col("offset") >= cutoff)
            .select(F.substring("value", 1, 10).cast("long").alias("id")))
    got = sorted(r["id"] for r in back.collect())
    assert got == list(range(jcut * 128 + 1, n))


def test_sql_4mc_pruned_scan_tiny_table_clamp(spark, tmp_path, monkeypatch):
    """At <= 128 rows the skip floor clamps to one block and BOTH sides
    go empty — without the clamp the Spark side kept event_id 0 (owned
    by block 0) while the oracle's `> 0` dropped it (review finding r7).
    Reuses the real query fn against a miniature events parquet."""
    import duckdb
    from pyspark.sql import functions as F

    from fourmc_spark.queries import ORACLE, QUERIES

    sf_dir = str(tmp_path / "tiny")
    (spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string"))
         .alias("event_type"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") * 0.5).alias("value"),
        F.lit("{}").alias("props"),
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet"))

    rows = QUERIES["sql_4mc_pruned_scan"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    oracle = con.execute(ORACLE["sql_4mc_pruned_scan"]).fetchall()
    assert [tuple(r) for r in rows] == oracle == []


def test_heavy_hitters_recount_is_broadcast_candidate_join(
    spark, sf_dir, queries
):
    # the exact recount must broadcast the tiny MG candidate set and
    # filter the exploded tokens map-side — the token stream itself is
    # never sort-merge joined; the only wide exchange groups candidate
    # keys (<= m x partitions of them)
    df = queries["text_heavy_hitters"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
