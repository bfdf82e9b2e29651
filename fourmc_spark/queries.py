"""Declared query corpus: SURVEY.md §2.3 Q1-Q20 relational queries plus the
LLM-pipeline operator extensions (dedup / similarity / text analysis /
multimodal / as-of / range join).

Contract (driver gate): ``QUERIES[name](spark, sf_dir) -> DataFrame`` and
``ORACLE[name]`` = equivalent DuckDB SQL over the same parquet tables.
Every computed column is aliased identically on both sides; int widths and
float rounding are pinned so the value-hash comparison is stable.

Spark implementations are DataFrame-first: broadcast hints on dimension
tables, single-pass wide aggregations, window functions for ranking —
the physical plans Catalyst should pick at 100 TB (see PLANS.md).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import tempfile
import uuid
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fourmc_spark.functions import (
    HASH_PRIME,
    minhash_params,
    shingles_duck,
    token_hash_duck,
    tokens_duck,
)
from fourmc_spark.operators import (
    curation,
    dedup,
    graph,
    joins,
    multimodal,
    sampling,
    similarity,
    stats,
    text,
    timeseries,
)
from fourmc_spark.operators.maintenance import (
    analyze_bloom,
    analyze_stats,
    analyze_stats_proto,
    compact_blocks,
)
from fourmc_spark.streaming import (
    cdc_apply_stream,
    dedup_ingest_stream,
    dedup_within_watermark,
    distinct_users_hourly,
    drain_width,
    enrich_with_dimension,
    funnel_interval_join,
    heavy_hitters_finalize,
    heavy_hitters_sketch_stream,
    pinned_shuffle_width,
    read_cdc_state,
    read_dedup_state,
    read_events_stream,
    run_to_memory,
    session_counts,
    sessionize_stateful,
    sliding_counts,
    tumbling_counts,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # every oracle compares timestamps under UTC; pin it even when the
    # session didn't come from get_spark (the driver builds its own)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts physical type varies by driver version (TIMESTAMP(NANOS)
        # vs plain micros TIMESTAMP); normalize either to TimestampType.
        from fourmc_spark.events import load_events

        return load_events(spark, f"{sf_dir}/events.parquet")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# DuckDB-side mirror of the ts normalization (identity for micros
# timestamps; nanos->micros floor division for TIMESTAMP_NS files)
_EV = ("(SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, "
       "user_id, event_type, value, props FROM events)")


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.replace("{EV}", _EV)
        return fn

    return deco


# =========================================================================
# Relational corpus (SURVEY.md §2.3) — all Catalyst-native
# =========================================================================

@query(
    "q01_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_quantity > 30 ORDER BY l_orderkey, l_linenumber""",
)
def q01(spark, sf):
    # predicate + projection push down to the parquet scan (2-col ReadSchema)
    return (
        _t(spark, sf, "lineitem")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q02_string_funcs",
    """SELECT o_orderkey, upper(substr(o_orderpriority, 1, 1)) AS pri,
              CAST(length(o_orderpriority) AS BIGINT) AS lp,
              concat(o_orderstatus, '-', o_orderpriority) AS tag
       FROM orders ORDER BY o_orderkey""",
)
def q02(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("pri"),
        F.length("o_orderpriority").cast("long").alias("lp"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
    ).orderBy("o_orderkey")


@query(
    "q03_date_math",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice * (1 - l_discount), 4) AS net,
              date_trunc('month', l_shipdate) AS ship_month
       FROM lineitem ORDER BY l_orderkey, l_linenumber""",
)
def q03(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net"),
            F.date_trunc("month", "l_shipdate").alias("ship_month"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q04_tpch_q1_agg",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
)
def q04(spark, sf):
    # partial (map-side) aggregation is automatic for hash aggregates
    return (
        _t(spark, sf, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q05_count_distinct",
    """SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
              CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part
       FROM lineitem""",
)
def q05(spark, sf):
    return _t(spark, sf, "lineitem").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_supp"),
        F.countDistinct("l_partkey").cast("long").alias("n_part"),
    )


@query(
    "q06_rollup",
    """SELECT n_regionkey, n_nationkey, CAST(count(*) AS BIGINT) AS n
       FROM nation GROUP BY ROLLUP(n_regionkey, n_nationkey)
       ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST""",
)
def q06(spark, sf):
    return (
        _t(spark, sf, "nation")
        .rollup("n_regionkey", "n_nationkey")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(
            F.col("n_regionkey").asc_nulls_first(),
            F.col("n_nationkey").asc_nulls_first(),
        )
    )


@query(
    "q07_join_topk",
    """SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS cnt
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_custkey ORDER BY cnt DESC, c.c_custkey LIMIT 100""",
)
def q07(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    # no hint: customer scales with SF, so let size stats/AQE choose —
    # broadcast at small SF, shuffled hash at 100 TB (hinting broadcast
    # here would OOM the driver at scale)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "c_custkey")
        .limit(100)
    )


@query(
    "q08_multijoin_revenue",
    """SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
       FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""",
)
def q08(spark, sf):
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem")
    # dimensions broadcast; the single big shuffle is lineitem x orders
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # nation/region are constant-size -> always broadcast; customer/
        # supplier scale with SF -> size-based planning (broadcast at
        # small SF, shuffle at 100 TB)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q09_left_join",
    """SELECT c.c_custkey, round(coalesce(sum(o.o_totalprice), 0), 2) AS total
       FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_custkey ORDER BY c.c_custkey""",
)
def q09(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total"))
        .orderBy("c_custkey")
    )


@query(
    "q10_semi_join",
    """SELECT CAST(count(*) AS BIGINT) AS n FROM part p
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)""",
)
def q10(spark, sf):
    p = _t(spark, sf, "part")
    l = _t(spark, sf, "lineitem").where(F.col("l_quantity") > 45)
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_semi")
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "q11_anti_join",
    """SELECT CAST(count(*) AS BIGINT) AS n FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def q11(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "q12_theta_join",
    """SELECT CAST(count(*) AS BIGINT) AS n
       FROM lineitem l JOIN orders o
       ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate""",
)
def q12(spark, sf):
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    # equi key + residual range predicate: stays a hash join, not a NL join
    return (
        l.join(o, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate))
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "q13_window_rank",
    """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rn""",
)
def q13(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


@query(
    "q14_window_frame",
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
              round(sum(l_quantity) OVER (
                PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS qty_7
       FROM lineitem ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""",
)
def q14(spark, sf):
    # l_quantity closes the sort: the synthetic lineitem does NOT make
    # (l_orderkey, l_linenumber) unique (sf0.1 has one (suppkey, shipdate,
    # orderkey, linenumber) tie with differing quantities), and a ROWS
    # frame over a non-total order is partition-layout-dependent. With
    # the quantity tiebreak, any remaining ties are identical in every
    # referenced column, so their order cannot change a frame sum.
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-6, 0)
    )
    return (
        _t(spark, sf, "lineitem")
        .select(
            "l_suppkey",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(w), 2).alias("qty_7"),
        )
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
    )


@query(
    "q36_range_frame",
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
              round(sum(l_quantity) OVER (
                PARTITION BY l_suppkey ORDER BY l_shipdate
                RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW), 2)
                AS qty_3d,
              percent_rank() OVER (
                PARTITION BY l_suppkey ORDER BY l_quantity) AS pr,
              cume_dist() OVER (
                PARTITION BY l_suppkey ORDER BY l_quantity) AS cd
       FROM lineitem
       ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""",
)
def q36_range_frame_q(spark, sf):
    # RANGE frame (value-based, vs q14's ROWS): all rows whose ship date
    # lies within 3 days before the current row's — frame membership is
    # set-valued under ties, so the sum is deterministic even though row
    # order within a date isn't. percent_rank/cume_dist complete the
    # ranking-function family (tie-stable by definition; emitted unrounded
    # — both engines divide the same exact integers, so the doubles are
    # bit-identical, whereas rounding a k/n rational can straddle a
    # half-boundary). Spark needs a
    # numeric range key: unix_date(days) with a -3..0 day frame is the
    # exact integer twin of the oracle's RANGE INTERVAL bound (shipdates
    # are midnight-aligned, so day granularity == timestamp granularity).
    wr = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_date(F.col("l_shipdate").cast("date")))
        .rangeBetween(-3, 0)
    )
    wq = Window.partitionBy("l_suppkey").orderBy("l_quantity")
    return (
        _t(spark, sf, "lineitem")
        .select(
            "l_suppkey",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(wr), 2).alias("qty_3d"),
            F.percent_rank().over(wq).alias("pr"),
            F.cume_dist().over(wq).alias("cd"),
        )
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
    )


@query(
    "q37_exists_subquery",
    """SELECT CAST(count(*) AS BIGINT) AS n_with, (
         SELECT CAST(count(*) AS BIGINT) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 150000)) AS n_without
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 150000)""",
)
def q37_exists_subquery_q(spark, sf):
    # correlated EXISTS / NOT EXISTS — Catalyst decorrelates to left-semi
    # and left-anti joins with the extra predicate pushed into the join
    # (a different rewrite path than q10/q11's IN / NOT IN)
    _t(spark, sf, "customer").createOrReplaceTempView("q37_c")
    _t(spark, sf, "orders").createOrReplaceTempView("q37_o")
    return spark.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n_with, (
             SELECT CAST(count(*) AS BIGINT) FROM q37_c c
             WHERE NOT EXISTS (SELECT 1 FROM q37_o o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_totalprice > 150000)) AS n_without
           FROM q37_c c
           WHERE EXISTS (SELECT 1 FROM q37_o o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 150000)"""
    )


@query(
    "q38_array_agg",
    """SELECT o_custkey,
              array_to_string(list_sort(list(o_orderpriority)), '|') AS pris,
              CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
       FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
)
def q38_array_agg_q(spark, sf):
    # array aggregation: collect_list is unordered by contract (partition
    # arrival order), so canonicalize with array_sort before joining —
    # the only way list-valued results are stable across engines AND
    # across partitionings at any scale
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_list("o_orderpriority"))).alias("pris"),
            F.count_distinct("o_orderpriority").cast("long").alias("n_distinct"),
        )
        .orderBy("o_custkey")
    )


@query(
    "q15_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
)
def q15(spark, sf):
    # Spark plans TakeOrderedAndProject: per-partition top-25, no full sort
    return (
        _t(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@query(
    "q16_intersect",
    """SELECT l_suppkey FROM lineitem INTERSECT SELECT s_suppkey FROM supplier
       ORDER BY l_suppkey""",
)
def q16(spark, sf):
    l = _t(spark, sf, "lineitem").select("l_suppkey")
    s = _t(spark, sf, "supplier").select(F.col("s_suppkey").alias("l_suppkey"))
    return l.intersect(s).orderBy("l_suppkey")


@query(
    "q16b_except",
    """SELECT s_suppkey FROM supplier EXCEPT
       SELECT l_suppkey FROM lineitem WHERE l_quantity > 49
       ORDER BY s_suppkey""",
)
def q16b(spark, sf):
    s = _t(spark, sf, "supplier").select("s_suppkey")
    l = (
        _t(spark, sf, "lineitem")
        .where(F.col("l_quantity") > 49)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return s.subtract(l).orderBy("s_suppkey")


@query(
    "q39_full_outer_join",
    """WITH o AS (SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS n_orders
             FROM orders GROUP BY o_orderdate),
l AS (SELECT l_shipdate AS d, CAST(count(*) AS BIGINT) AS n_ship
      FROM lineitem GROUP BY l_shipdate)
SELECT coalesce(o.d, l.d) AS d,
       coalesce(n_orders, CAST(0 AS BIGINT)) AS n_orders,
       coalesce(n_ship, CAST(0 AS BIGINT)) AS n_ship
FROM o FULL OUTER JOIN l ON o.d = l.d ORDER BY d""",
)
def q39_full_outer(spark, sf):
    # full outer equi-join with orphans on BOTH sides (shipments run past
    # the last order date): per-day order vs shipment activity. Both
    # inputs pre-aggregate before the join, so the shuffle carries one
    # row per (side, day) — never the fact tables.
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    l = (
        _t(spark, sf, "lineitem")
        .groupBy(F.col("l_shipdate").alias("d"))
        .agg(F.count("*").cast("long").alias("n_ship"))
    )
    return (
        o.join(l, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_orders", F.lit(0).cast("long")).alias("n_orders"),
            F.coalesce("n_ship", F.lit(0).cast("long")).alias("n_ship"),
        )
        .orderBy("d")
    )


@query(
    "q17_explode_count",
    """SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
         SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
       GROUP BY tok ORDER BY c DESC, tok""",
)
def q17(spark, sf):
    # the reference's one real query shape: explode -> count -> sort
    # (TestProtobufInput.java:88-115)
    return (
        _t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.desc("c"), "tok")
    )


@query(
    "q18_time_bucket",
    """SELECT date_trunc('hour', ts) AS h, event_type, CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 2) AS sum_value
       FROM {EV} e GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q18(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("h", "event_type")
    )


@query(
    "q19_distinct_dedup",
    """SELECT CAST(count(*) AS BIGINT) AS n FROM (
         SELECT DISTINCT user_id, event_type FROM {EV} e) t""",
)
def q19(spark, sf):
    return (
        _t(spark, sf, "events")
        .select("user_id", "event_type")
        .distinct()
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "q20_correlated_subquery",
    """SELECT p_partkey FROM part p
       WHERE p_retailprice > (SELECT 1.2 * avg(l.l_extendedprice / l.l_quantity)
                              FROM lineitem l WHERE l.l_partkey = p.p_partkey)
       ORDER BY p_partkey""",
)
def q20(spark, sf):
    _t(spark, sf, "part").createOrReplaceTempView("part")
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """SELECT p_partkey FROM part p
           WHERE p_retailprice > (SELECT 1.2 * avg(l.l_extendedprice / l.l_quantity)
                                  FROM lineitem l WHERE l.l_partkey = p.p_partkey)
           ORDER BY p_partkey"""
    )


@query(
    "q21_json_extract",
    """SELECT event_type,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
              CAST(count(*) AS BIGINT) AS n
       FROM {EV} e GROUP BY event_type ORDER BY event_type""",
)
def q21(spark, sf):
    return (
        _t(spark, sf, "events")
        .select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("k_sum"), F.count("*").cast("long").alias("n"))
        .orderBy("event_type")
    )


@query(
    "q40_json_roundtrip",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              to_json({'t': event_type,
                       'k': CAST(json_extract(props, '$.k') AS BIGINT)}) AS j
       FROM {EV} WHERE event_id % 97 = 0 ORDER BY event_id""",
)
def q40_json_roundtrip(spark, sf):
    # from_json -> typed struct access -> to_json re-serialization (both
    # engines emit compact key-ordered JSON, so the strings compare
    # exactly). Completes the JSON family next to q21's get_json_object.
    ev = _t(spark, sf, "events").where(F.col("event_id") % 97 == 0)
    parsed = ev.select(
        "event_id",
        "event_type",
        F.from_json("props", "k BIGINT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"), F.col("p.k").alias("k")
            )
        ).alias("j"),
    ).orderBy("event_id")


@query(
    "q41_lateral_join",
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
       FROM customer c,
       LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                WHERE o.o_custkey = c.c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
       ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",
)
def q41_lateral_join(spark, sf):
    # correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    # top-n-per-group shape expressed relationally, vs q13's explicit
    # window). Catalyst decorrelates it into a ranked join — no
    # per-customer re-execution, same plan family as the window form.
    return spark.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
           FROM {c} c,
           LATERAL (SELECT o_orderkey, o_totalprice FROM {o} o
                    WHERE o.o_custkey = c.c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
           ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",
        c=_t(spark, sf, "customer"),
        o=_t(spark, sf, "orders"),
    )


@query(
    "q42_stats_moments",
    """SELECT l_returnflag,
              round(stddev_samp(l_quantity), 4) AS sd_qty,
              round(var_samp(l_quantity), 4) AS var_qty,
              round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
              round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
              round(skewness(l_quantity) * (count(*) - 2)
                    / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew_qty,
              round(kurtosis_pop(l_quantity), 6) AS kurt_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def q42_stats_moments(spark, sf):
    # second/third/fourth-moment aggregate family (profiling + feature
    # scaling): all mergeable partial+final hash aggs (Welford-style
    # merge states), so one shuffle of #groups x constant-width rows.
    # Spark reports POPULATION skewness/excess-kurtosis; the oracle maps
    # DuckDB's sample skewness back via G1*(n-2)/sqrt(n(n-1)) and uses
    # kurtosis_pop.
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qp"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
            F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q44_variant",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS BIGINT)
                AS k_mod,
              CAST(json_extract(props, '$.missing') IS NULL AS BIGINT)
                AS miss_null
       FROM {EV} WHERE event_id % 89 = 0 ORDER BY event_id""",
)
def q44_variant(spark, sf):
    # Spark 4 VARIANT ingestion: parse_json once into an open-schema
    # VARIANT column, then typed variant_get extraction — the
    # semi-structured path that replaces per-access JSON re-parsing
    # (q21's get_json_object re-parses the string per field; a VARIANT
    # parses once and serves every extraction from its binary encoding).
    ev = _t(spark, sf, "events").where(F.col("event_id") % 89 == 0)
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        (F.variant_get("v", "$.k", "bigint") % 7).cast("long").alias("k_mod"),
        F.variant_get("v", "$.missing", "string")
        .isNull()
        .cast("long")
        .alias("miss_null"),
    ).orderBy("event_id")


_RCTE_MONTHS = """
WITH RECURSIVE months(m) AS (
  SELECT date_trunc('month', CAST(min(o_orderdate) AS TIMESTAMP)) FROM {O}
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS TIMESTAMP) FROM months
  WHERE m < (SELECT date_trunc('month', CAST(max(o_orderdate) AS TIMESTAMP))
             FROM {O})
)
SELECT months.m AS month_start, CAST(count(o2.o_orderkey) AS BIGINT) AS n_orders
FROM months LEFT JOIN {O} o2
  ON date_trunc('month', CAST(o2.o_orderdate AS TIMESTAMP)) = months.m
GROUP BY months.m ORDER BY months.m
"""


@query("q43_recursive_cte", _RCTE_MONTHS.replace("{O}", "orders"))
def q43_recursive_cte(spark, sf):
    # WITH RECURSIVE (Spark 4.1 UnionLoop): generate the dense month
    # spine between the orders' min/max months, then left-join order
    # counts — empty months surface as 0 instead of disappearing. The
    # recursion is bounded by the date span (driver-side rows), never
    # corpus-sized; the join stays a plain equi-join on the month key.
    return spark.sql(_RCTE_MONTHS.replace("{O}", "{o}"), o=_t(spark, sf, "orders"))


@query(
    "q22_cube",
    """SELECT event_type, date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
       FROM {EV} e GROUP BY CUBE(event_type, date_trunc('day', ts))
       ORDER BY event_type NULLS FIRST, d NULLS FIRST""",
)
def q22(spark, sf):
    return (
        _t(spark, sf, "events")
        .cube(F.col("event_type"), F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("d").asc_nulls_first())
    )


@query(
    "q23_scalar_suite",
    """SELECT o_orderkey,
              trim(concat('  ', o_orderstatus, '  ')) AS t1,
              lpad(o_orderstatus, 5, '*') AS t2,
              replace(o_orderpriority, '-', '_') AS t3,
              coalesce(nullif(o_orderstatus, 'F'), 'FINAL') AS t4,
              round(abs(o_totalprice - 100000.0), 2) AS m1,
              round(sqrt(o_totalprice), 4) AS m2,
              round(ln(o_totalprice + 1), 4) AS m3,
              CAST(floor(o_totalprice / 1000) AS BIGINT) AS m4,
              greatest(o_totalprice, 100000.0) AS m5,
              CASE WHEN o_totalprice > 200000 THEN 'hi'
                   WHEN o_totalprice > 100000 THEN 'mid' ELSE 'lo' END AS band
       FROM orders ORDER BY o_orderkey""",
)
def q23(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.trim(F.concat(F.lit("  "), F.col("o_orderstatus"), F.lit("  "))).alias("t1"),
        F.lpad("o_orderstatus", 5, "*").alias("t2"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("t3"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("F")), F.lit("FINAL")).alias("t4"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("m1"),
        F.round(F.sqrt("o_totalprice"), 4).alias("m2"),
        F.round(F.log(F.col("o_totalprice") + 1), 4).alias("m3"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("m4"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("m5"),
        F.when(F.col("o_totalprice") > 200000, "hi")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("lo")
        .alias("band"),
    ).orderBy("o_orderkey")


# =========================================================================
# LLM-pipeline extensions — dedup / similarity / text / multimodal / joins
# =========================================================================

_DUCK_SHINGLES = f"""
  SELECT DISTINCT doc_id,
         unnest({shingles_duck(tokens_duck('text'))}) AS shingle
  FROM documents
"""

_DUCK_JACCARD = f"""
WITH sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
FROM common
JOIN cnt na ON na.doc_id = a_id
JOIN cnt nb ON nb.doc_id = b_id
WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= {{thr}}
ORDER BY a_id, b_id
"""


@query(
    "dedup_exact",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0)
       SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_copies,
              min(doc_id) AS keep_id
       FROM corpus GROUP BY md5(text) HAVING count(*) > 1
       ORDER BY keep_id""",
)
def dedup_exact_q(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.unionByName(dups)
    return (
        dedup.exact_dedup(corpus)
        .where(F.col("n_copies") > 1)
        .orderBy("keep_id")
    )


def _minhash_oracle() -> str:
    h = token_hash_duck("shingle")
    cols = ",\n       ".join(
        f"min(({a} * {h} + {b}) % {HASH_PRIME}) AS mh{i:02d}"
        for i, (a, b) in enumerate(minhash_params(dedup.MINHASH_K))
    )
    return f"""WITH sh AS ({_DUCK_SHINGLES})
SELECT doc_id,
       {cols}
FROM sh GROUP BY doc_id ORDER BY doc_id"""


@query("dedup_minhash_signatures", _minhash_oracle())
def dedup_minhash_sig_q(spark, sf):
    return dedup.minhash_signatures(_t(spark, sf, "documents")).orderBy("doc_id")


@query("dedup_minhash_pairs", _DUCK_JACCARD.format(thr=0.8))
def dedup_minhash_pairs_q(spark, sf):
    # LSH banding candidates + exact-Jaccard confirm; with k=16/bands of 2
    # the detection probability at J>=0.9 is 1-1e-11, so the result equals
    # the exhaustive oracle
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), threshold=0.8
    ).orderBy("a_id", "b_id")


@query("dedup_ngram_jaccard", _DUCK_JACCARD.format(thr=0.6))
def dedup_ngram_jaccard_q(spark, sf):
    return dedup.jaccard_pairs(_t(spark, sf, "documents"), threshold=0.6).orderBy(
        "a_id", "b_id"
    )


@query(
    "dedup_edit_pairs",
    """WITH k AS (SELECT doc_id, rpad(substr(text, 1, 48), 48, '~') AS p
           FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 2
ORDER BY a_id, b_id""",
)
def dedup_edit_pairs_q(spark, sf):
    # PassJoin partition filtering (segments + shifted windows, recall 1.0
    # by pigeonhole) + exact levenshtein verify — equals the oracle's
    # exhaustive self-join without ever building the cross product.
    return dedup.edit_distance_pairs(
        _t(spark, sf, "documents"), max_dist=2, prefix_len=48
    ).orderBy("a_id", "b_id")


@query(
    "dedup_incremental",
    f"""WITH sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id FROM common
  JOIN cnt na ON na.doc_id = a_id
  JOIN cnt nb ON nb.doc_id = b_id
  WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.8)
SELECT doc_id, source FROM documents
WHERE doc_id >= 250
  AND doc_id NOT IN (SELECT b_id FROM pairs WHERE b_id >= 250)
ORDER BY doc_id""",
)
def dedup_incremental_q(spark, sf):
    # daily-ingest dedup: admit incoming docs (id >= 250) that near-dup
    # neither the corpus (id < 250) nor an earlier incoming doc. The
    # corpus is never self-joined — a day's ingest costs
    # O(|incoming| x collision rate) regardless of corpus size.
    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") < 250)
    incoming = docs.where(F.col("doc_id") >= 250)
    return (
        dedup.incremental_near_dedup(corpus, incoming, threshold=0.8)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# transitive closure of the symmetrized pair graph; component id = min
# reachable doc id (DuckDB recursive CTE — tractable at oracle scale; the
# Spark side uses log-bounded label propagation instead)
_DUCK_COMPONENTS = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id FROM common
  JOIN cnt na ON na.doc_id = a_id
  JOIN cnt nb ON nb.doc_id = b_id
  WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.6),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
SELECT u AS doc_id, least(u, min(v)) AS component_id
FROM reach GROUP BY u ORDER BY doc_id
"""


@query("dedup_components", _DUCK_COMPONENTS)
def dedup_components_q(spark, sf):
    # pairs -> clusters: every doc in a non-trivial duplicate set labeled
    # with its canonical (minimum) doc id, so one keep-decision covers the
    # whole set. Iterative min-label propagation (operators/graph.py);
    # rounds = cluster diameter, lineage truncated per round.
    edges = dedup.jaccard_pairs(_t(spark, sf, "documents"), threshold=0.6).select(
        "a_id", "b_id"
    )
    return graph.connected_components(
        edges, src="a_id", dst="b_id", id_out="doc_id", comp_out="component_id"
    ).orderBy("doc_id")


@query("dedup_components_star", _DUCK_COMPONENTS)
def dedup_components_star_q(spark, sf):
    # the same component closure via alternating large-star/small-star
    # contraction (Kiveris et al.) — O(log^2 n) rounds in the NODE count
    # instead of diameter-many, the scale-safe variant for long thin
    # graphs (chains, entity-resolution paths). Identical output
    # contract, so it shares dedup_components' exhaustive oracle.
    edges = dedup.jaccard_pairs(_t(spark, sf, "documents"), threshold=0.6).select(
        "a_id", "b_id"
    )
    return graph.connected_components_star(
        edges, src="a_id", dst="b_id", id_out="doc_id", comp_out="component_id"
    ).orderBy("doc_id")


# the dedup APPLY step: same component closure as above, then one kept
# representative per cluster (max n_chars, ties -> min doc_id) and a
# kept/dropped verdict for EVERY corpus doc (singletons keep themselves)
_DUCK_CANONICALIZE = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id FROM common
  JOIN cnt na ON na.doc_id = a_id
  JOIN cnt nb ON nb.doc_id = b_id
  WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.6),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
         FROM reach GROUP BY u),
members AS (SELECT d.doc_id, c.component_id, d.n_chars
            FROM documents d JOIN comp c ON d.doc_id = c.doc_id),
reps AS (SELECT component_id, doc_id AS canonical_id FROM (
           SELECT component_id, doc_id,
                  row_number() OVER (PARTITION BY component_id
                                     ORDER BY n_chars DESC, doc_id) AS rn
           FROM members) WHERE rn = 1)
SELECT d.doc_id,
       coalesce(c.component_id, d.doc_id) AS component_id,
       coalesce(r.canonical_id, d.doc_id) AS canonical_id,
       CAST(coalesce(r.canonical_id, d.doc_id) = d.doc_id AS BIGINT) AS kept
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
LEFT JOIN reps r ON c.component_id = r.component_id
ORDER BY d.doc_id
"""


@query("dedup_canonicalize", _DUCK_CANONICALIZE)
def dedup_canonicalize_q(spark, sf):
    # pairs -> clusters -> keep-the-longest: the end-to-end dedup apply
    # step. Clustering + representative election run on clustered docs
    # only; the corpus gets its verdict via two broadcast left joins and
    # never shuffles (operators/graph.py canonicalize).
    docs = _t(spark, sf, "documents")
    edges = dedup.jaccard_pairs(docs, threshold=0.6).select("a_id", "b_id")
    return graph.canonicalize(docs, edges).orderBy("doc_id")


def _simhash_oracle_core() -> str:
    th = token_hash_duck("tok")
    bit_sums = ",\n         ".join(
        f"sum(CAST((th >> {b}) & 1 AS BIGINT)) AS c{b}" for b in range(dedup.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN 2 * c{b} > n_tok THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""toks AS (
  SELECT DISTINCT doc_id, unnest({tokens_duck('text')}) AS tok FROM documents),
th AS (SELECT doc_id, {th} AS th FROM toks),
counted AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         {bit_sums}
  FROM th GROUP BY doc_id),
sig AS (SELECT doc_id, ({sig}) AS simhash FROM counted)"""


@query(
    "dedup_simhash_signatures",
    f"WITH {_simhash_oracle_core()} SELECT doc_id, simhash FROM sig ORDER BY doc_id",
)
def dedup_simhash_sig_q(spark, sf):
    return dedup.simhash_signatures(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    f"""WITH {_simhash_oracle_core()}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY a_id, b_id""",
)
def dedup_simhash_pairs_q(spark, sf):
    return (
        dedup.simhash_pairs(_t(spark, sf, "documents"), max_hamming=3)
        .select("a_id", "b_id", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a_id", "b_id")
    )


@query(
    "ann_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS sim
  FROM embeddings e, q WHERE e.vec_id != q.query_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
)
def ann_topk_q(spark, sf):
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(e, q, k=10).orderBy("query_id", "rank")


@query(
    "dedup_embedding_pairs",
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) >= 0.4
       ORDER BY a_id, b_id""",
)
def dedup_embedding_pairs_q(spark, sf):
    return similarity.cosine_pairs(_t(spark, sf, "embeddings"), threshold=0.4).orderBy(
        "a_id", "b_id"
    )


@query(
    "dedup_semantic",
    """WITH dropped AS (
  SELECT DISTINCT b.vec_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4)
SELECT e.vec_id, e.label FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
ORDER BY e.vec_id""",
)
def dedup_semantic_q(spark, sf):
    # SemDeDup shape: pairwise cosine only WITHIN a cluster (the label
    # column stands in for the kmeans_fit assignment), drop the larger id
    # of any pair >= threshold. Cluster key bounds the quadratic join —
    # sum |c|^2, never N^2 (operators/similarity.py semantic_dedup).
    return similarity.semantic_dedup(
        _t(spark, sf, "embeddings"), threshold=0.4
    ).orderBy("vec_id")


def _langid_oracle() -> str:
    langs = sorted(text.STOPWORDS)
    toks = tokens_duck("text")
    scores = ",\n       ".join(
        "CAST(len(list_filter({t}, t -> list_contains([{w}], t))) AS BIGINT) AS score_{l}".format(
            t=toks, w=", ".join(f"'{w}'" for w in text.STOPWORDS[l]), l=l
        )
        for l in langs
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""WITH scored AS (
  SELECT doc_id,
       {scores}
  FROM documents)
SELECT doc_id, {", ".join(f"score_{l}" for l in langs)}, {case} AS pred_lang
FROM scored ORDER BY doc_id"""


@query("text_langid", _langid_oracle())
def text_langid_q(spark, sf):
    return text.lang_id(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_quality",
    """WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha
  FROM documents)
SELECT doc_id, n_chars, n_tokens, n_distinct, n_alpha,
       round(n_alpha * 1.0 / n_chars, 4) AS alpha_ratio,
       round(n_distinct * 1.0 / n_tokens, 4) AS distinct_ratio,
       round((n_distinct * 1.0 / n_tokens) * (least(n_tokens, 64) / 64.0), 4) AS quality
FROM base ORDER BY doc_id""",
)
def text_quality_q(spark, sf):
    return text.quality_score(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_token_stats",
    r"""SELECT doc_id,
              CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
                AS n_bpe_pieces,
              CAST(length(text) AS BIGINT) AS n_chars
       FROM documents ORDER BY doc_id""",
)
def text_token_stats_q(spark, sf):
    return text.token_stats(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_fingerprint",
    f"""SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({tokens_duck('text')}, t -> {token_hash_duck('t')})),
         (acc, h) -> (acc * 31 + h) % {HASH_PRIME}) AS fingerprint
FROM documents ORDER BY doc_id""",
)
def text_fingerprint_q(spark, sf):
    return text.fingerprint(_t(spark, sf, "documents")).orderBy("doc_id")


def _repetition_oracle() -> str:
    toks = tokens_duck("text")
    bi = shingles_duck(toks, 2)
    tri = shingles_duck(toks, 3)

    def dup(arr: str, alias: str) -> str:
        return (
            f"round(CASE WHEN len({arr}) > 0 THEN "
            f"1.0 - len(list_distinct({arr})) * 1.0 / len({arr}) "
            f"ELSE 0.0 END, 4) AS {alias}"
        )

    top = (
        f"list_max(list_transform(list_distinct({toks}), "
        f"d -> len(list_filter({toks}, t -> t = d))))"
    )
    return f"""SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       {dup(toks, 'dup_token_frac')},
       {dup(bi, 'dup_bigram_frac')},
       {dup(tri, 'dup_trigram_frac')},
       CAST({top} AS BIGINT) AS top_token_count,
       round(CASE WHEN len({toks}) > 0 THEN {top} * 1.0 / len({toks})
             ELSE 0.0 END, 4) AS top_token_frac
FROM documents ORDER BY doc_id"""


@query("text_repetition", _repetition_oracle())
def text_repetition_q(spark, sf):
    return text.repetition_stats(_t(spark, sf, "documents")).orderBy("doc_id")


def _pii_oracle() -> str:
    email, phone = text.EMAIL_RE, text.PHONE_RE
    return f"""WITH e AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{phone}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{email}', '<EMAIL>', 'g'),
                          '{phone}', '<PHONE>', 'g')) AS redacted_md5
FROM e ORDER BY doc_id"""


@query("text_pii_redact", _pii_oracle())
def text_pii_redact_q(spark, sf):
    return text.pii_redact(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_tfidf_topk",
    f"""WITH terms AS (
  SELECT doc_id, unnest({tokens_duck('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS docfreq
          FROM tf GROUP BY term),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, docfreq,
         CAST(tf * ((n_docs * 1000000) // docfreq) AS BIGINT) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN total),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored)
SELECT doc_id, term, tf, docfreq, tfidf, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY doc_id, rank""",
)
def text_tfidf_q(spark, sf):
    return text.tfidf_topk(_t(spark, sf, "documents"), k=5).orderBy("doc_id", "rank")


@query(
    "text_unigram_logprob",
    f"""WITH t AS (
  SELECT doc_id, unnest({tokens_duck('text')}) AS term FROM documents),
c AS (SELECT term, count(*) AS term_n FROM t GROUP BY term),
n AS (SELECT count(*) AS corpus_n FROM t)
SELECT doc_id, round(avg(ln(term_n / corpus_n)), 6) AS mean_logprob,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM t JOIN c USING (term) CROSS JOIN n
GROUP BY doc_id ORDER BY doc_id""",
)
def text_unigram_logprob_q(spark, sf):
    # unigram-LM fluency scoring: cheap gibberish/outlier filter for
    # curation — the corpus is its own language model
    return text.unigram_logprob(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_bigram_logprob",
    f"""WITH t AS (
  SELECT doc_id, {tokens_duck('text')} AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i + 1] AS a, toks[i + 2] AS b
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)),
pc AS (SELECT a, b, count(*) AS pair_n FROM bg GROUP BY a, b),
sc AS (SELECT a, count(*) AS start_n FROM bg GROUP BY a)
SELECT doc_id,
       round(avg(ln(CAST(pair_n AS DOUBLE) / start_n)), 6) AS mean_logprob,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM bg JOIN pc USING (a, b) JOIN sc USING (a)
GROUP BY doc_id ORDER BY doc_id""",
)
def text_bigram_logprob_q(spark, sf):
    # bigram-LM fluency: order-sensitive upgrade of the unigram filter —
    # shuffled-but-plausible-vocabulary text collapses under p(b|a)
    # (operators/text.bigram_logprob).
    return text.bigram_logprob(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_vocab_coverage",
    f"""WITH t AS (
  SELECT unnest({tokens_duck('text')}) AS term FROM documents),
c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM t),
top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 60),
r AS (SELECT term, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
               AS rank,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cnt
      FROM top)
SELECT rank, term, cnt, cum_cnt,
       round(cum_cnt / (SELECT total_tokens FROM n), 6) AS cum_coverage
FROM r ORDER BY rank""",
)
def text_vocab_coverage_q(spark, sf):
    # tokenizer-prep vocabulary curve: top-60 terms + cumulative token
    # coverage. Top-V selection is distributed (TakeOrderedAndProject);
    # only the 60 survivors enter the global-order running-total window.
    return text.vocab_coverage(_t(spark, sf, "documents"), top_v=60)


@query(
    "text_bpe_pairs",
    f"""SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({shingles_duck(tokens_duck('text'), 2)}) AS pair
      FROM documents)
GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""",
)
def text_bpe_pairs_q(spark, sf):
    # adjacent-pair frequencies — the first BPE merge statistic (vocab
    # curve sizes the vocabulary, this seeds the merges). Explode dies in
    # its own stage; top-k is a distributed TakeOrderedAndProject.
    return text.bpe_pair_stats(_t(spark, sf, "documents"), top_k=50)


_BM25_TERMS = ("merge", "vector", "stream")


@query(
    "text_bm25_topk",
    f"""WITH stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         avg(CAST(len({tokens_duck('text')}) AS BIGINT)) AS avgdl
  FROM documents),
terms AS (
  SELECT doc_id, CAST(len({tokens_duck('text')}) AS BIGINT) AS dl,
         unnest({tokens_duck('text')}) AS term
  FROM documents),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms WHERE term IN ('merge', 'vector', 'stream')
       GROUP BY doc_id, dl, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfq FROM tf GROUP BY term)
SELECT doc_id,
       round(sum(ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
         AS bm25,
       CAST(count(*) AS BIGINT) AS n_matched_terms
FROM tf JOIN dfreq USING (term) CROSS JOIN stats
GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50""",
)
def text_bm25_q(spark, sf):
    # Okapi BM25 top-50 for a fixed query — the lexical retrieval baseline
    # of any RAG/curation stack. Fan-out dies at the explode (term filter
    # in the same stage); only matched terms ever shuffle.
    return text.bm25_topk(_t(spark, sf, "documents"), list(_BM25_TERMS), k=50)


@query(
    "retrieval_hybrid_rrf",
    f"""WITH stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         avg(CAST(len({tokens_duck('text')}) AS BIGINT)) AS avgdl
  FROM documents),
terms AS (
  SELECT doc_id, CAST(len({tokens_duck('text')}) AS BIGINT) AS dl,
         unnest({tokens_duck('text')}) AS term
  FROM documents),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms WHERE term IN ('merge', 'vector', 'stream')
       GROUP BY doc_id, dl, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfq FROM tf GROUP BY term),
lexl AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5))
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
           AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
lex AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS lex_rank
        FROM lexl),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS sim
  FROM embeddings e, q WHERE e.vec_id != 0),
densel AS (
  SELECT doc_id, dense_rank FROM (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                AS BIGINT) AS dense_rank
    FROM scored) WHERE dense_rank <= 50),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
         round(coalesce(1.0 / (60 + l.lex_rank), 0)
               + coalesce(1.0 / (60 + d.dense_rank), 0), 6) AS rrf_score
  FROM lex l FULL OUTER JOIN densel d ON l.doc_id = d.doc_id)
SELECT doc_id, lex_rank, dense_rank, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 20""",
)
def retrieval_hybrid_rrf_q(spark, sf):
    # hybrid RAG retrieval: reciprocal-rank fusion of the BM25 lexical
    # top-50 and the dense cosine top-50 (query = vec 0). Each leg keeps
    # its own scale posture; fusion touches only two 50-row lists.
    return similarity.hybrid_rrf_topk(
        _t(spark, sf, "documents"),
        _t(spark, sf, "embeddings"),
        list(_BM25_TERMS),
        query_vec_id=0,
        k=20,
        depth=50,
    )


def _contamination_oracle() -> str:
    sh = shingles_duck(tokens_duck("text"), 8)
    return f"""WITH bench AS (
  SELECT DISTINCT unnest({sh}) AS sh FROM documents WHERE doc_id % 50 = 0),
base AS (SELECT doc_id, list_distinct({sh}) AS shs
         FROM documents WHERE doc_id % 50 != 0),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         FROM (SELECT doc_id, unnest(shs) AS sh FROM base) d
         JOIN bench USING (sh) GROUP BY doc_id)
SELECT b.doc_id, CAST(len(shs) AS BIGINT) AS n_shingles,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(n_hit, 0) * 1.0 / greatest(len(shs), 1), 4)
         AS contamination_frac
FROM base b LEFT JOIN hits USING (doc_id) ORDER BY doc_id"""


@query("curation_contamination", _contamination_oracle())
def curation_contamination_q(spark, sf):
    return curation.contamination(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "text_quality_classifier",
    """WITH s AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(string_split(text, ' '),
              t -> (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                    % 2147483647) % 1000 - 500)) AS BIGINT) AS logit_milli
  FROM documents)
SELECT doc_id, n_tokens, logit_milli,
       round(1.0 / (1.0 + exp(-(logit_milli / 1000.0))), 6) AS score,
       round(1.0 / (1.0 + exp(-(logit_milli / 1000.0))), 6) >= 0.5 AS keep
FROM s ORDER BY doc_id""",
)
def text_quality_classifier_q(spark, sf):
    # model-based quality filtering (fasttext-shaped): feature-hashed
    # bag-of-words linear model, integer logit accumulation (summation
    # order cannot move the sigmoid input), map-only fold — the exact
    # plan shape a trained classifier uses at 100 TB (weights would come
    # from a broadcast lookup instead of the hash itself).
    return text.hashed_classifier_score(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


@query(
    "curation_c4_clean",
    """WITH ml AS (
  SELECT doc_id, replace(text, '. ', '.' || chr(10)) AS text FROM documents),
f AS (
  SELECT doc_id,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines_total,
         list_filter(string_split(text, chr(10)),
                     l -> len(string_split(trim(l), ' ')) >= 5
                          AND regexp_matches(trim(l), '[.!?"]$')) AS kept
  FROM ml
  WHERE NOT contains(lower(text), 'lorem ipsum')
    AND NOT contains(text, '{'))
SELECT doc_id, n_lines_total, CAST(len(kept) AS BIGINT) AS n_lines_kept,
       array_to_string(kept, chr(10)) AS clean_text
FROM f WHERE len(kept) > 0 ORDER BY doc_id""",
)
def curation_c4_clean_q(spark, sf):
    # C4-style line-level cleaning over a multi-line view of the corpus
    # (sentence breaks become newlines so the per-line rules actually
    # discriminate): short lines and lines without terminal punctuation
    # drop, lorem-ipsum/brace docs drop whole.
    d = _t(spark, sf, "documents").withColumn(
        "text", F.expr("replace(text, '. ', concat('.', char(10)))")
    )
    return text.c4_line_clean(d).orderBy("doc_id")


@query(
    "curation_source_stats",
    """SELECT source, CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(avg(length(text)), 4) AS avg_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM documents GROUP BY source ORDER BY source""",
)
def curation_source_stats_q(spark, sf):
    return curation.source_stats(_t(spark, sf, "documents")).orderBy("source")


@query(
    "curation_quality_gate",
    """WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct
  FROM documents),
scored AS (
  SELECT doc_id, source,
         round((n_distinct * 1.0 / n_tokens) * (least(n_tokens, 64) / 64.0),
               4) AS quality
  FROM base),
thr AS (SELECT source, quantile_disc(quality, 0.5) AS q_threshold
        FROM scored GROUP BY source)
SELECT s.doc_id, s.source, s.quality, t.q_threshold
FROM scored s JOIN thr t USING (source)
WHERE s.quality >= t.q_threshold
ORDER BY s.doc_id""",
)
def curation_quality_gate_q(spark, sf):
    # per-source adaptive gate: keep each source's top half by quality.
    # The percentile_disc threshold is a real data value (never a float
    # boundary); thresholds broadcast back, the corpus never shuffles.
    return curation.source_quality_gate(
        _t(spark, sf, "documents"), keep_frac=0.5
    ).orderBy("doc_id")


# The synthesized per-doc image lattice (operators/multimodal.
# synthesize_images): w = 4 + id%13, h = 3 + id%11,
# v(x,y,c) = (3x + 7y + 11c + id) % 256 — closed-form, so DuckDB can
# recompute every pixel with bounded range() joins while Spark REALLY
# encodes each image (PPM for odd ids, BMP for even) and REALLY parses
# the bytes back (operators/imaging: pure-numpy P6/P5/BMP codecs).
_IMG_DIMS = (
    "SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents"
)


@query(
    "multimodal_features",
    f"""WITH dims AS ({_IMG_DIMS}),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (3*gx.x + 7*gy.y + 11*gc.c + d.doc_id) % 256 AS v
  FROM dims d
  JOIN range(16) gx(x) ON gx.x < d.w
  JOIN range(13) gy(y) ON gy.y < d.h
  CROSS JOIN range(3) gc(c))
SELECT doc_id, CAST(min(w) AS BIGINT) AS width, CAST(min(h) AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels, CAST(sum(v) AS BIGINT) AS pix_sum
FROM px GROUP BY doc_id ORDER BY doc_id""",
)
def multimodal_q(spark, sf):
    # REAL image decode through the oracle gate: every payload is an
    # actual PPM or BMP file built executor-side, and width/height/
    # channels/pix_sum come from parsing those bytes back — a decoder
    # bug (header parse, BMP row padding/BGR flip, raster truncation)
    # breaks the hash match.
    imgs = multimodal.synthesize_images(_t(spark, sf, "documents"))
    return multimodal.extract_image_features(imgs).orderBy("doc_id")


@query(
    "multimodal_real_resize",
    f"""WITH dims AS ({_IMG_DIMS}),
px AS (
  SELECT d.doc_id,
         (3*((gx.x * d.w) // 8) + 7*((gy.y * d.h) // 6) + 11*gc.c
          + d.doc_id) % 256 AS v
  FROM dims d
  CROSS JOIN range(8) gx(x)
  CROSS JOIN range(6) gy(y)
  CROSS JOIN range(3) gc(c))
SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
       CAST(sum(v) AS BIGINT) AS resized_pix_sum,
       CAST(155 AS BIGINT) AS resized_bytes
FROM px GROUP BY doc_id ORDER BY doc_id""",
)
def multimodal_real_resize_q(spark, sf):
    # decode → nearest-neighbor resample (integer floor mapping, mirrored
    # by the oracle's (x*w)//8 lattice) → re-encode as PPM; 155 = the
    # 11-byte "P6\\n8 6\\n255\\n" header + 8*6*3 raster bytes.
    imgs = multimodal.synthesize_images(_t(spark, sf, "documents"))
    return multimodal.resize_image_stats(
        imgs, target_w=8, target_h=6
    ).orderBy("doc_id")


@query(
    "multimodal_png_roundtrip",
    f"""WITH dims AS ({_IMG_DIMS}),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (3*gx.x + 7*gy.y + 11*gc.c + d.doc_id) % 256 AS v
  FROM dims d
  JOIN range(16) gx(x) ON gx.x < d.w
  JOIN range(13) gy(y) ON gy.y < d.h
  CROSS JOIN range(3) gc(c))
SELECT doc_id, CAST(min(w) AS BIGINT) AS width,
       CAST(min(h) AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels, CAST(sum(v) AS BIGINT) AS pix_sum
FROM px GROUP BY doc_id ORDER BY doc_id""",
)
def multimodal_png_roundtrip_q(spark, sf):
    # REAL PNG compress + decompress per doc (operators/png: stdlib
    # zlib + numpy chunk/CRC/unfilter codec). PNG is LOSSLESS, so the
    # oracle recomputes the FULL pixel lattice — same lattice as
    # multimodal_features, but the bytes in between are an actual
    # deflate stream with CRC-verified chunk framing. png_bytes (the
    # deflate length) is not SQL-derivable and stays out of the gate
    # projection.
    return multimodal.png_roundtrip_stats(
        _t(spark, sf, "documents")
    ).drop("png_bytes").orderBy("doc_id")


@query(
    "multimodal_jpeg_roundtrip",
    """SELECT doc_id,
              CAST(5 + doc_id % 13 AS BIGINT) AS width,
              CAST(4 + doc_id % 11 AS BIGINT) AS height,
              CAST((doc_id % 256) * (5 + doc_id % 13) * (4 + doc_id % 11)
                   AS BIGINT) AS pix_sum,
              TRUE AS jpeg_bytes_ok
       FROM documents ORDER BY doc_id""",
)
def multimodal_jpeg_roundtrip_q(spark, sf):
    # REAL baseline-JPEG compress + decompress per doc through the
    # oracle gate (operators/jpeg: pure-numpy T.81 baseline codec).
    # The constant-gray / quality-100 construction makes the lossy
    # pipeline exact, so DuckDB recomputes every reported value in
    # closed form while Spark actually Huffman-codes and IDCTs bytes.
    return multimodal.jpeg_roundtrip_stats(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


@query(
    "multimodal_jpeg_420_roundtrip",
    """SELECT doc_id,
              CAST(9 + doc_id % 21 AS BIGINT) AS width,
              CAST(9 + doc_id % 17 AS BIGINT) AS height,
              CAST((doc_id % 256 + doc_id * 7 % 256 + doc_id * 13 % 256)
                   * (9 + doc_id % 21) * (9 + doc_id % 17)
                   AS BIGINT) AS pix_sum,
              TRUE AS jpeg_bytes_ok
       FROM documents ORDER BY doc_id""",
)
def multimodal_jpeg_420_roundtrip_q(spark, sf):
    # interleaved 4:2:0 COLOR twin of multimodal_jpeg_roundtrip: puts
    # box-averaged chroma, 16x16 interleaved MCUs, and the upsampling
    # path under the hash gate via a constant-color construction whose
    # exactness is provable at quality 100 (operators/multimodal.py
    # jpeg420_roundtrip_stats docstring carries the bound argument)
    return multimodal.jpeg420_roundtrip_stats(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


@query(
    "multimodal_jpeg_progressive",
    """SELECT doc_id,
              CAST(8 + doc_id % 19 AS BIGINT) AS width,
              CAST(8 + doc_id % 15 AS BIGINT) AS height,
              CAST(3 * ((7 * doc_id + 3) % 256)
                   * (8 + doc_id % 19) * (8 + doc_id % 15)
                   AS BIGINT) AS pix_sum,
              TRUE AS jpeg_bytes_ok
       FROM documents ORDER BY doc_id""",
)
def multimodal_jpeg_progressive_q(spark, sf):
    # progressive (SOF2) twin of multimodal_jpeg_420_roundtrip: real
    # multi-scan spectral-selection encode (interleaved DC scan, AC
    # band scans with EOB runs, per-scan K.2 tables) + the annex-G
    # progressive decoder, both under the hash gate — THROUGH the
    # decode_image dispatch seam, so an external libjpeg backend takes
    # this path in real deployments. The r=g=b constant construction
    # (chroma exactly 128, all chroma coefficients zero) is exact under
    # both float-exact and fixed-point inverse transforms, making the
    # hash backend-independent (kernel docstring carries the argument).
    # jpeg_bytes_ok pins the SOF2 marker so a silent baseline fallback
    # can't pass.
    return multimodal.jpeg_progressive_roundtrip_stats(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


@query(
    "multimodal_jpeg_cmyk_roundtrip",
    """SELECT doc_id,
              CAST(7 + doc_id % 17 AS BIGINT) AS width,
              CAST(6 + doc_id % 13 AS BIGINT) AS height,
              CAST(((doc_id * 5 + 1) % 256 + (doc_id * 9 + 2) % 256
                    + (doc_id * 11 + 4) % 256 + (doc_id * 3 + 7) % 256)
                   * (7 + doc_id % 17) * (6 + doc_id % 13)
                   AS BIGINT) AS pix_sum,
              TRUE AS jpeg_bytes_ok
       FROM documents ORDER BY doc_id""",
)
def multimodal_jpeg_cmyk_roundtrip_q(spark, sf):
    # 4-component (CMYK) twin: raw 4-band baseline streams (the
    # javax.imageio raster convention, JDK-goldened both directions)
    # encode+decode under the hash gate; no color transform in either
    # direction, so the constant/q100 construction is exact per plane.
    return multimodal.jpeg_cmyk_roundtrip_stats(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


@query(
    "multimodal_jpeg_ycck_dispatch",
    """SELECT doc_id,
              CAST(6 + doc_id % 16 AS BIGINT) AS width,
              CAST(5 + doc_id % 12 AS BIGINT) AS height,
              CAST(3 * ((2 * (255 - (7 * doc_id + 3) % 256)
                           * ((3 * doc_id + 7) % 256) + 255) // 510)
                   * (6 + doc_id % 16) * (5 + doc_id % 12)
                   AS BIGINT) AS pix_sum,
              TRUE AS jpeg_bytes_ok
       FROM documents ORDER BY doc_id""",
)
def multimodal_jpeg_ycck_dispatch_q(spark, sf):
    # Adobe YCCK (APP14 transform=2) through the decode_image DISPATCH
    # seam (VERDICT r7 #4): the raw-CMYK query pins decode_jpeg
    # deliberately, so the seam's CMYK normalization (external-backend
    # decline -> APP14 parse -> YCCK undo -> cmyk_to_rgb inverted) was
    # pytest-only until now. Constant construction with chroma exactly
    # 128 keeps every step float-exact and the final rounding tie-free,
    # so the oracle restates pix_sum in pure integer arithmetic
    # (kernel docstring carries the full argument). Backend-swap
    # invariance is pinned in tests/test_dispatch_gate.py.
    return multimodal.jpeg_ycck_dispatch_stats(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


# documents.text is ASCII (asserted in tests), so DuckDB's varchar
# substring/md5 sees the same bytes the Spark-side pandas decode slices.
@query(
    "multimodal_resize",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS src_bytes,
              CAST(320 AS BIGINT) AS width, CAST(240 AS BIGINT) AS height,
              CAST(least(octet_length(encode(text)), 76800) AS BIGINT) AS resized_bytes,
              md5(substring(text, 1, 76800)) AS resized_md5
       FROM documents ORDER BY doc_id""",
)
def multimodal_resize_q(spark, sf):
    d = multimodal.attach_binary_payload(_t(spark, sf, "documents"))
    return multimodal.resize_images(d, target_w=320, target_h=240).orderBy("doc_id")


@query(
    "multimodal_frames",
    """WITH p AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
f AS (SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(n * 1.0 / 256) AS BIGINT), 4)) AS frame_idx
      FROM p)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(least(256, n - frame_idx * 256) AS BIGINT) AS frame_len,
       md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5
FROM f ORDER BY doc_id, frame_idx""",
)
def multimodal_frames_q(spark, sf):
    d = multimodal.attach_binary_payload(_t(spark, sf, "documents"))
    return multimodal.sample_frames(d, frame_bytes=256, stride=4).orderBy(
        "doc_id", "frame_idx"
    )


@query(
    "multimodal_audio_features",
    """WITH dims AS (SELECT doc_id, 100 + doc_id % 257 AS n,
                        1 + (doc_id + 1) % 2 AS ch,
                        8000 + 100 * (doc_id % 9) AS rate FROM documents),
s AS (SELECT d.doc_id, d.n, d.ch, d.rate,
             abs((7*gi.i + 11*gc.c + d.doc_id) % 2048 - 1024) AS a
      FROM dims d
      JOIN range(357) gi(i) ON gi.i < d.n
      JOIN range(2) gc(c) ON gc.c < d.ch)
SELECT doc_id, CAST(min(n) AS BIGINT) AS n_samples,
       CAST(min(ch) AS BIGINT) AS channels,
       CAST(min(rate) AS BIGINT) AS sample_rate,
       CAST(sum(a) AS BIGINT) AS amp_sum
FROM s GROUP BY doc_id ORDER BY doc_id""",
)
def multimodal_audio_q(spark, sf):
    # REAL WAV decode through the oracle gate: per-doc PCM payloads
    # (int16, mono/stereo alternating) are actually encoded and then
    # RIFF-chunk-walked back (operators/av.decode_wav); amp_sum over the
    # parsed samples must match DuckDB recomputing the closed-form
    # lattice — a PCM/byte-order/channel-interleave bug breaks the hash.
    au = multimodal.synthesize_audio(_t(spark, sf, "documents"))
    return multimodal.extract_audio_features(au).orderBy("doc_id")


@query(
    "multimodal_video_frames",
    """WITH dims AS (SELECT doc_id, 4 + 2*(doc_id % 7) AS w,
                        2 + 2*(doc_id % 5) AS h,
                        2 + doc_id % 5 AS nf FROM documents),
fr AS (SELECT d.doc_id, d.w, d.h, gk.k
       FROM dims d JOIN range(7) gk(k) ON gk.k < d.nf AND gk.k % 2 = 0),
px AS (SELECT f.doc_id, f.k, f.w, f.h,
              (3*gx.x + 5*gy.y + 17*f.k + f.doc_id) % 256 AS v
       FROM fr f
       JOIN range(16) gx(x) ON gx.x < f.w
       JOIN range(10) gy(y) ON gy.y < f.h)
SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
       CAST(min(w) AS BIGINT) AS width, CAST(min(h) AS BIGINT) AS height,
       CAST(sum(v) AS BIGINT) AS luma_sum
FROM px GROUP BY doc_id, k ORDER BY doc_id, frame_idx""",
)
def multimodal_video_q(spark, sf):
    # REAL video frame sampling: per-doc Y4M streams demuxed frame by
    # frame (operators/av.iter_y4m_frames), every 2nd frame kept — the
    # ffmpeg fan-out shape with an actual demuxer; luma sums of the
    # parsed planes oracle-checked per (doc, frame).
    vid = multimodal.synthesize_video(_t(spark, sf, "documents"))
    return multimodal.sample_video_frames(vid, stride=2).orderBy(
        "doc_id", "frame_idx"
    )


@query(
    "asof_join_events",
    """WITH clicks AS (SELECT event_id, user_id, ts FROM {EV} e WHERE event_type = 'click'),
errors AS (SELECT user_id, ts, max(event_id) AS err_id
           FROM {EV} e WHERE event_type = 'error' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, e.err_id AS last_error_id
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND c.ts >= e.ts
ORDER BY c.event_id""",
)
def asof_q(spark, sf):
    ev = _t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    return (
        joins.asof_join(clicks, errors, on="user_id", time_col="ts", right_cols=["err_id"])
        .select("event_id", "user_id", F.col("err_id").alias("last_error_id"))
        .orderBy("event_id")
    )


_BANDS = [("b0_low", 0.0, 50.0), ("b1_mid", 50.0, 100.0),
          ("b2_high", 100.0, 150.0), ("b3_top", 150.0, 1e18)]


@query(
    "range_join_bands",
    f"""WITH bands(label, lo, hi) AS (VALUES
       {", ".join(f"('{l}', {lo}, {hi})" for l, lo, hi in _BANDS)})
SELECT b.label, CAST(count(e.event_id) AS BIGINT) AS n, round(sum(e.value), 2) AS sum_value
FROM {{EV}} e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.label ORDER BY b.label""",
)
def range_join_q(spark, sf):
    ev = _t(spark, sf, "events")
    bands = ev.sparkSession.createDataFrame(_BANDS, ["label", "lo", "hi"])
    joined = joins.range_join_bands(ev, bands, "value").where(F.col("label").isNotNull())
    return (
        joined.groupBy("label")
        .agg(
            F.count("event_id").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("label")
    )


_TYPE_WEIGHTS = [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
                 ("signup", 5.0), ("error", 0.0)]


@query(
    "q30_salted_skew_join",
    f"""WITH dim(event_type, weight) AS (VALUES
       {", ".join(f"('{t}', {w})" for t, w in _TYPE_WEIGHTS)})
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(e.value * d.weight), 2) AS weighted_value
FROM {{EV}} e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type ORDER BY e.event_type""",
)
def q30_salted_q(spark, sf):
    # event_type is a 5-value key — the canonical skew shape: a plain
    # shuffle join lands each type in one task. salted_join spreads every
    # key over 8 sub-keys; results are salt-invariant (oracle = plain join).
    ev = _t(spark, sf, "events")
    dim = ev.sparkSession.createDataFrame(_TYPE_WEIGHTS, ["event_type", "weight"])
    return (
        joins.salted_join(ev, dim, on="event_type", n_salts=8)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q31_hash_sample",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE substring(md5(concat_ws('-', CAST(l_orderkey AS VARCHAR),
                                          CAST(l_linenumber AS VARCHAR))), 1, 4) < '2000'
       ORDER BY l_orderkey, l_linenumber""",
)
def q31_hash_sample_q(spark, sf):
    # deterministic ~12.5% sample (8192/65536): membership is a pure
    # function of the key, so the sample is stable across runs, engines,
    # and re-partitionings — and the filter is map-side, zero shuffle.
    return (
        sampling.hash_sample(
            _t(spark, sf, "lineitem"), ["l_orderkey", "l_linenumber"], keep_bp=0x2000
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


_STRATA_BP = {"click": 0x2000, "view": 0x0800, "error": 0x10000, "purchase": 0x4000}


@query(
    "q32_stratified_sample",
    f"""WITH rates(event_type, thr) AS (VALUES
       {", ".join(f"('{t}', '{format(bp, '04x')}')" for t, bp in sorted(_STRATA_BP.items()))}),
s AS (SELECT e.event_id, e.event_type
      FROM {{EV}} e JOIN rates r ON e.event_type = r.event_type
      WHERE substring(md5(CAST(e.event_id AS VARCHAR)), 1, 4) < r.thr)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM s GROUP BY event_type ORDER BY event_type""",
)
def q32_stratified_q(spark, sf):
    # class re-balancing at ingest: keep all errors, 25% purchases, 12.5%
    # clicks, 3% views, drop unlisted strata — one CASE-threshold filter,
    # still map-only and deterministic (sampleBy is neither).
    ev = _t(spark, sf, "events")
    return (
        sampling.stratified_hash_sample(
            ev, "event_type", ["event_id"], _STRATA_BP, default_bp=0
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


@query(
    "curation_split_assign",
    """SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0800'
              THEN 'val'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1000'
              THEN 'test'
            ELSE 'train' END AS split
FROM documents ORDER BY doc_id""",
)
def curation_split_assign_q(spark, sf):
    # stable train/val/test assignment (~3.1% val, ~3.1% test): pure
    # function of doc_id, so corpus growth never migrates old rows across
    # splits — the eval-contamination guard. Map-only, zero shuffle.
    return (
        sampling.train_val_test_split(
            _t(spark, sf, "documents"), ["doc_id"], val_bp=0x0800, test_bp=0x0800
        )
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


@query(
    "curation_mixture_sample",
    """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
             FROM documents GROUP BY source),
w AS (SELECT source, n_s,
             greatest(CAST(floor(sqrt(n_s)) AS BIGINT), 1) AS w_s FROM c),
r AS (SELECT source, n_s,
             least((CAST(120 AS BIGINT) * w_s
                    // (SELECT CAST(sum(w_s) AS BIGINT) FROM w))
                   * 65536 // n_s, 65536) AS rate_bp
      FROM w),
kept AS (SELECT d.source, d.doc_id, r.rate_bp
         FROM documents d JOIN r USING (source)
         WHERE r.rate_bp >= 65536
            OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
               < lpad(lower(to_hex(rate_bp)), 4, '0'))
SELECT source, CAST(max(rate_bp) AS BIGINT) AS rate_bp,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM kept GROUP BY source ORDER BY source""",
)
def curation_mixture_sample_q(spark, sf):
    # temperature-flattened domain mixing (w_s ∝ sqrt(n_s)): rare sources
    # sample at a higher rate than proportional, dominant ones lower —
    # integer-exact rates, membership a pure hash of doc_id. The corpus
    # is never shuffled: count agg + broadcast rates + map-side filter.
    kept = sampling.mixture_sample(
        _t(spark, sf, "documents"), "source", ["doc_id"], sample_rows=120
    )
    return (
        kept.groupBy("source")
        .agg(
            F.max("rate_bp").cast("long").alias("rate_bp"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


@query(
    "curation_shuffle_order",
    """SELECT md5(concat_ws('-', 'epoch1', CAST(doc_id AS VARCHAR)))
              AS shuffle_key,
              doc_id
       FROM documents ORDER BY shuffle_key, doc_id LIMIT 200""",
)
def curation_shuffle_order_q(spark, sf):
    # deterministic global shuffle (training order): md5(seed, key) sort
    # key — same seed reproduces the same permutation on any engine or
    # partitioning; a new seed is a fresh epoch. Range-partitioned sort,
    # balanced by hash uniformity.
    return (
        sampling.shuffle_order(
            _t(spark, sf, "documents"), ["doc_id"], seed="epoch1"
        )
        .select("shuffle_key", "doc_id")
        .limit(200)
    )


@query(
    "stats_histogram",
    """SELECT CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19) AS BIGINT)
         AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM {EV} WHERE value IS NOT NULL
GROUP BY 1 ORDER BY bin""",
)
def stats_histogram_q(spark, sf):
    # profiling primitive: 20 equi-width bins over events.value [0, 500);
    # binning is map-side codegen arithmetic, the shuffle carries <= 20
    # partially-counted rows. Identical IEEE doubles in both engines.
    return stats.equi_width_histogram(
        _t(spark, sf, "events"), "value", lo=0.0, hi=500.0, bins=20
    ).orderBy("bin")


@query(
    "pipeline_curation",
    """WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents),
feat AS (SELECT doc_id, n_tokens,
                round((n_distinct * 1.0 / n_tokens) * (least(n_tokens, 64) / 64.0), 4)
                  AS quality
         FROM base),
joined AS (SELECT d.doc_id, d.lang, d.text, f.n_tokens, f.quality
           FROM documents d JOIN feat f USING (doc_id)
           WHERE f.quality >= 0.3 AND f.n_tokens >= 10
             AND substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < '8000'),
dedup AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM joined)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(avg(quality), 4) AS avg_quality
FROM dedup WHERE rn = 1 GROUP BY lang ORDER BY lang""",
)
def pipeline_curation_q(spark, sf):
    # the end-to-end training-data curation shape: score -> quality gate ->
    # deterministic sample -> exact dedup -> corpus stats. Every stage is a
    # map-side filter or a single keyed shuffle; nothing touches the driver.
    docs = _t(spark, sf, "documents")
    feats = text.quality_score(docs).select("doc_id", "n_tokens", "quality")
    joined = docs.select("doc_id", "text", "lang").join(feats, "doc_id")
    kept = joined.where((F.col("quality") >= 0.3) & (F.col("n_tokens") >= 10))
    sampled = sampling.hash_sample(kept, ["doc_id"], keep_bp=0x8000)
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = sampled.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@query(
    "q34_array_map_suite",
    """SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 5))
                AS BIGINT) AS n_long,
              CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
                AS BIGINT) AS tok_chars,
              list_sort(string_split(text, ' '))[1] AS first_tok,
              array_to_string(list_sort(string_split(text, ' '))[1:3], '|') AS top3,
              CAST(MAP {'len': length(text),
                        'ntok': len(string_split(text, ' '))}['len'][1]
                AS BIGINT) AS meta_len
       FROM documents ORDER BY doc_id""",
)
def q34_array_map_q(spark, sf):
    # array/map higher-order functions stay JVM expressions (transform,
    # filter, aggregate, sort, map_from_arrays) — no UDF for collection work
    toks = F.split(F.col("text"), " ")
    return (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.size(F.filter(toks, lambda t: F.length(t) > 5))
            .cast("long")
            .alias("n_long"),
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("tok_chars"),
            F.sort_array(toks)[0].alias("first_tok"),
            F.array_join(F.slice(F.sort_array(toks), 1, 3), "|").alias("top3"),
            F.element_at(
                F.map_from_arrays(
                    F.array(F.lit("len"), F.lit("ntok")),
                    F.array(F.length("text").cast("long"), F.size(toks).cast("long")),
                ),
                F.lit("len"),
            ).alias("meta_len"),
        )
        .orderBy("doc_id")
    )


@query("q33_approx_percentile", "SELECT CAST(1 AS BOOLEAN) AS within_tol")
def q33_approx_percentile_q(spark, sf):
    # the 100 TB percentile path: approx_percentile's mergeable KLL-style
    # sketch (one small state per partition merged at the driver) instead
    # of q29's exact sort-based percentile_disc. Self-check oracle: the
    # sketch must land within 1% relative error of the exact answer.
    r = _t(spark, sf, "lineitem").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
        ).alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("ex"),
    )
    return r.select(
        F.expr(
            "aggregate(zip_with(ap, ex, (a, e) -> abs(a - e) / e < 0.01), "
            "true, (acc, x) -> acc AND x)"
        ).alias("within_tol")
    )


@query(
    "q35_session_window_batch",
    """WITH e AS (SELECT user_id, ts, value FROM {EV}),
m AS (SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts, value,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
)
def q35_session_window_batch_q(spark, sf):
    """Batch ``session_window`` aggregation — the batch twin of
    stream_session_windows, exercising Catalyst's SessionWindow node
    outside streaming (dynamic-gap windows merged per key in one
    aggregation; the shuffle key is (user_id), state bounded per key).
    Session end = last event + gap; a spacing of exactly the gap starts a
    new session (strictly-closer events merge), same as streaming.
    """
    return (
        _t(spark, sf, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# =========================================================================
# Streaming surface (SURVEY.md §2.2 Streaming / M5) — each query runs a
# REAL micro-batch Structured Streaming query over the events parquet
# (file source → memory sink, availableNow), then returns the
# materialized result so the DuckDB oracle can certify the windowed
# semantics. The stateful sessionizer is the one genuinely
# non-SQL-expressible op (append-mode emission of *closed* sessions).
# =========================================================================


def _run_stream(
    sdf: DataFrame, output_mode: str = "complete", src: str | None = None
) -> DataFrame:
    """Drain ``sdf`` to a memory sink. ``src`` is the stream's source
    path (file or directory); its on-disk size feeds run_to_memory's
    volume-derived drain width so the pin scales with the fixture
    instead of defaulting to the bounded-fixture constant."""
    input_bytes = None
    if src is not None:
        if os.path.isdir(src):
            input_bytes = sum(
                e.stat().st_size for e in os.scandir(src) if e.is_file()
            )
        else:
            input_bytes = os.path.getsize(src)
    return run_to_memory(
        sdf, f"qstream_{uuid.uuid4().hex[:12]}", output_mode,
        input_bytes=input_bytes,
    )


# Detach bound for streaming queries whose state dir is deleted on return:
# their results are small aggregates (per-user snapshot / per-hour windows),
# but a misconfigured SF must fail loudly rather than pull an unbounded
# result onto the driver.
_DETACH_MAX_ROWS = 2_000_000


def _is_result_size_abort(exc: Exception) -> bool:
    """True when the driver collect died on spark.driver.maxResultSize.

    The JVM raises a legacy SparkException here with NO error
    class/condition (verified against the 4.1 error-conditions registry),
    so the detection has to be textual — but match the full conf key the
    message interpolates from config.MAX_RESULT_SIZE.key rather than the
    bare word "maxResultSize" (ADVICE r10), and consult
    getCondition()/getErrorClass() first so a future Spark that assigns a
    condition is matched structurally."""
    for probe in ("getCondition", "getErrorClass"):
        fn = getattr(exc, probe, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond and "RESULT_SIZE" in str(cond).upper():
                return True
    return "spark.driver.maxResultSize" in str(exc)


def _detach(out: DataFrame) -> DataFrame:
    # ONE action, not a count + a separate toPandas: every _detach caller
    # is a lifecycle query whose plan re-runs a Python-datasource scan per
    # action, and each such action costs a fixed ~0.4-1 s of planner
    # round-trips before any data moves (measured, r10 optimization).
    # limit(N+1).toPandas() bounds the driver transfer exactly like the
    # old count-first guard (at most N+1 rows ever materialize) and is
    # row-identical to the unlimited collect whenever the guard passes.
    # Unlike the old count-first probe, the failure path does transfer
    # rows before raising — the BYTE bound on that transfer is
    # spark.driver.maxResultSize (1g stock), which aborts the collect
    # long before the driver heap is at risk; translate that abort into
    # the same loud detach-bound error the count guard used to raise.
    try:
        pdf = out.limit(_DETACH_MAX_ROWS + 1).toPandas()
    except Exception as exc:
        if _is_result_size_abort(exc):
            raise ValueError(
                "streaming query result exceeds "
                "spark.driver.maxResultSize before the "
                f"{_DETACH_MAX_ROWS}-row driver detach bound; run at a "
                "smaller SF or persist the state dir instead"
            ) from exc
        raise
    if len(pdf) > _DETACH_MAX_ROWS:
        raise ValueError(
            f"streaming query result exceeds the {_DETACH_MAX_ROWS}-row "
            "driver detach bound; run at a smaller SF or persist the "
            "state dir instead"
        )
    spark = out.sparkSession
    return spark.createDataFrame(pdf, out.schema)


# ---------------------------------------------------------------------
# Deterministic range partitioning for lifecycle fixture writes (r11,
# guide §1.2 step 1 / VERDICT r10 next-round #1): ``repartitionByRange``
# runs a RangePartitioner SAMPLING job over the input inside every
# fixture-write action — an extra Spark job per lifecycle query whose
# only purpose is discovering bounds the parquet footer already records.
# These helpers read the bounds DRIVER-SIDE from the footer statistics
# (a sub-millisecond pread, no job), cut the key domain into n
# equal-width buckets, and route bucket i to its own shuffle partition
# by repartitioning on a PROBE VALUE chosen so its Murmur3 hash lands in
# a distinct pmod class (hash-repartitioning on the raw bucket id would
# collide buckets per guide §2.5). Same range-disjoint n-file layout,
# deterministic instead of sampled, one fewer job per query. Falls back
# to repartitionByRange when footer stats are unavailable. Layout-only:
# query RESULTS are partitioning-invariant (pinned by the oracle gate).
# ---------------------------------------------------------------------


def _murmur3_hash_long(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of a LongType value (Murmur3_x86_32
    ``hashLong``, seed 42) — the hash behind ``repartition(n, col)``'s
    HashPartitioning. Pinned equal to ``F.hash(lit(v).cast("long"))``
    by tests/test_queries_lifecycle.py, so silent drift against a
    future Spark is caught loudly (a mismatch would only degrade
    fixture layout, never results)."""
    M = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & M

    def mixk1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & M
        k1 = rotl(k1, 15)
        return (k1 * 0x1B873593) & M

    def mixh1(h1: int, k1: int) -> int:
        h1 = (h1 ^ k1) & M
        h1 = rotl(h1, 13)
        return (h1 * 5 + 0xE6546B64) & M

    v &= 0xFFFFFFFFFFFFFFFF  # two's complement view of negative longs
    h1 = mixh1(seed & M, mixk1(v & M))
    h1 = mixh1(h1, mixk1((v >> 32) & M))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_probe_values(n: int) -> list[int]:
    """First n non-negative longs whose Murmur3 pmod classes cover
    0..n-1, indexed by bucket: probe_values[b] hashes into partition
    class b under ``pmod(hash, n)``. Which class a bucket lands in is
    irrelevant (any bijection yields n range-disjoint files); the
    search is deterministic, so the layout is too."""
    found: dict[int, int] = {}
    v = 0
    while len(found) < n:
        p = _murmur3_hash_long(v) % n
        if p not in found:
            found[p] = v
        v += 1
    return [found[p] for p in range(n)]


def _parquet_col_minmax(path: str, col: str):
    """(lo, hi) of ``col`` from the parquet footer statistics, as ints
    (timestamp columns in epoch MICROS), or None when any row group
    lacks min/max or the type is out of scope — callers then fall back
    to the sampling repartitionByRange. Driver-side footer pread only;
    no Spark job."""
    import datetime as _dt

    try:
        import pyarrow.parquet as _pq

        md = _pq.ParquetFile(path).metadata
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        j = names.index(col)
        los, his = [], []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                return None
            los.append(st.min)
            his.append(st.max)
    except Exception:
        return None

    def _as_int(x):
        if isinstance(x, bool) or not isinstance(
            x, (int, _dt.datetime)
        ):
            return None
        if isinstance(x, _dt.datetime):
            if x.tzinfo is not None:
                x = x.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            td = x - _dt.datetime(1970, 1, 1)
            return (
                td.days * 86_400_000_000
                + td.seconds * 1_000_000
                + td.microseconds
            )
        return x

    # convert first: min/max over raw statistics raises TypeError on
    # types _as_int rejects (floats mixed with None, strings)
    los, his = [_as_int(x) for x in los], [_as_int(x) for x in his]
    if not los or any(x is None for x in los + his):
        return None
    return min(los), max(his)


def _det_range_shuffle(df, n: int, key, lo: int, hi: int):
    """Shuffle ``df`` into n range-disjoint partitions of the integer
    expression ``key`` (known span [lo, hi]) without a sampling job:
    equal-width bucket, then repartition on the bucket's probe value
    (distinct Murmur3 pmod class per bucket). Integer arithmetic
    throughout — exact, ANSI-safe for any epoch-micros span."""
    span = hi - lo + 1
    b = F.call_function(
        "div", (key - F.lit(lo)) * F.lit(n), F.lit(span)
    ).cast("int")
    b = F.least(F.lit(n - 1), F.greatest(F.lit(0), b))
    probes = _partition_probe_values(n)
    probe = F.element_at(
        F.array(*[F.lit(p).cast("long") for p in probes]), b + 1
    )
    return df.repartition(n, probe)


def _range_partition_fixture(
    df, n: int, col: str, src_path: str, key=None, stat_col: str | None = None
):
    """Range-partition a lifecycle fixture frame into n files without
    the RangePartitioner sampling job, using footer-derived bounds.
    ``key`` overrides the bucket expression (e.g. unix_micros of a
    formatted string column); ``stat_col`` the footer column name.
    Falls back to the sampled ``repartitionByRange(n, col)`` when the
    footer carries no usable statistics."""
    mm = _parquet_col_minmax(src_path, stat_col or col)
    if mm is None or mm[1] < mm[0]:
        return df.repartitionByRange(n, col)
    return _det_range_shuffle(df, n, key if key is not None else F.col(col),
                              mm[0], mm[1])


@query(
    "stream_tumbling_hourly",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
       FROM {EV} GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_tumbling_q(spark, sf):
    sdf = tumbling_counts(
        read_events_stream(spark, f"{sf}/events.parquet"), window="1 hour"
    )
    return _run_stream(sdf, src=f"{sf}/events.parquet").orderBy(
        "win_start", "event_type"
    )


@query(
    "stream_session_windows",
    """WITH e AS (SELECT user_id, ts FROM {EV}),
m AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 15 MINUTE
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 15 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
)
def stream_session_q(spark, sf):
    # Spark session_window: end = last event + gap; sessions merge while
    # consecutive events are STRICTLY closer than the gap. The oracle
    # reproduces both rules (>= starts a new session).
    sdf = session_counts(read_events_stream(spark, f"{sf}/events.parquet"),
                         gap="15 minutes")
    return _run_stream(sdf, src=f"{sf}/events.parquet").orderBy(
        "user_id", "session_start"
    )


@query(
    "stream_sliding_windows",
    """WITH x AS (SELECT event_type,
        unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
          AS win_start
      FROM {EV})
SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM x GROUP BY win_start, event_type ORDER BY win_start, event_type""",
)
def stream_sliding_q(spark, sf):
    # 1h windows sliding every 30m: each event lands in exactly 2 windows;
    # the oracle materializes both membership slots per event. Both engines
    # align 30m buckets on :00/:30 (epoch / 2000-01-01 origins agree mod 30m).
    sdf = sliding_counts(
        read_events_stream(spark, f"{sf}/events.parquet"),
        window="1 hour", slide="30 minutes",
    )
    return (
        _run_stream(sdf, src=f"{sf}/events.parquet")
        .select("win_start", "event_type", F.col("cnt").cast("long").alias("cnt"))
        .orderBy("win_start", "event_type")
    )


@query(
    "stream_dedup_watermark",
    """SELECT DISTINCT user_id, event_type FROM {EV} ORDER BY 1, 2""",
)
def stream_dedup_q(spark, sf):
    sdf = dedup_within_watermark(
        read_events_stream(spark, f"{sf}/events.parquet"),
        keys=["user_id", "event_type"],
    )
    out = _run_stream(sdf.select("user_id", "event_type"),
                      output_mode="append", src=f"{sf}/events.parquet")
    return out.distinct().orderBy("user_id", "event_type")


@query(
    "stream_distinct_users_hourly",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM {EV} WHERE value >= 1.0 GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_distinct_users_q(spark, sf):
    # CHAINED stateful operators (watermark dedup -> tumbling agg) in ONE
    # streaming query — Spark 3.4+ multi-stateful support. Append mode is
    # mandatory for the chain, so finished windows only emit once the
    # watermark passes them: after draining the source, a sentinel event
    # far past the data advances the watermark and flushes every real
    # window; the sentinel's own window stays held back forever and never
    # appears in the result.
    with _scratch_dir(spark, "fourmc-musers-") as tmp:
        shutil.copy(f"{sf}/events.parquet", os.path.join(tmp, "part-0.parquet"))
        sdf = distinct_users_hourly(read_events_stream(spark, tmp))
        name = f"qstream_{uuid.uuid4().hex[:12]}"
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            sentinel = (
                spark.read.parquet(os.path.join(tmp, "part-0.parquet"))
                .orderBy(F.desc("ts"))
                .limit(1)
                .withColumn("ts", F.expr("ts + INTERVAL 3650 DAYS"))
            )
            sentinel.coalesce(1).write.mode("append").parquet(tmp)
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name).orderBy("win_start", "event_type")


@query(
    "stream_interval_join",
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
       FROM {EV} a JOIN {EV} b
         ON b.user_id = a.user_id
        AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
       WHERE a.event_type = 'click' AND b.event_type = 'purchase'
       ORDER BY a_id, b_id""",
)
def stream_interval_join_q(spark, sf):
    # stream-stream interval join (click -> purchase funnel within 30 min):
    # two independent stream reads of the same source; the event-time range
    # condition bounds both sides' join state (see funnel_interval_join)
    sdf = funnel_interval_join(
        read_events_stream(spark, f"{sf}/events.parquet"),
        read_events_stream(spark, f"{sf}/events.parquet"),
        max_delay="30 minutes",
    )
    return _run_stream(
        sdf, output_mode="append", src=f"{sf}/events.parquet"
    ).orderBy("a_id", "b_id")


@query(
    "stream_static_join",
    """SELECT date_trunc('hour', e.ts) AS win_start, c.c_mktsegment AS segment,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(e.value), 2) AS sum_value
       FROM {EV} e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_static_join_q(spark, sf):
    # stream-static broadcast enrichment: the static customer dim joins
    # into each micro-batch with no join state; only the windowed agg
    # holds (watermark-bounded) state
    dim = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    sdf = enrich_with_dimension(
        read_events_stream(spark, f"{sf}/events.parquet"),
        dim,
        on=("user_id", "c_custkey"),
        window="1 hour",
    )
    return (
        _run_stream(sdf, src=f"{sf}/events.parquet")
        .select(
            "win_start",
            "segment",
            F.col("cnt").cast("long").alias("cnt"),
            "sum_value",
        )
        .orderBy("win_start", "segment")
    )


@query(
    "stream_sessionize_stateful",
    # Batch twin of the stateful emission rule (previously rows-only).
    # Over a bounded input the applyInPandasWithState query emits exactly:
    # every gap-closed session, PLUS each user's final session iff its
    # event-time timeout (session_end + 15 min) fell strictly below the
    # final watermark (global max ts - 30 min) — Spark runs a no-data
    # micro-batch after the last data batch (noDataMicroBatches default
    # on) in which those timeouts fire. Both halves are deterministic:
    # one data batch (single parquet file), integer-microsecond gap
    # arithmetic, strict `<` per FlatMapGroupsWithStateExec's timeout
    # eviction check.
    """WITH ev AS (SELECT user_id, ts FROM {EV}),
o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 15*60*1000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
g AS (SELECT CAST(user_id AS BIGINT) AS user_id, sid,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid),
wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM ev),
r AS (SELECT g.*, row_number() OVER (PARTITION BY user_id
                                     ORDER BY session_start DESC) AS rn
      FROM g)
SELECT user_id,
       CAST(epoch_us(session_start) AS BIGINT) AS session_start_us,
       CAST(epoch_us(session_end) AS BIGINT) AS session_end_us,
       n_events
FROM r WHERE rn > 1
   OR epoch_us(session_end) + 15*60*1000000 < epoch_us((SELECT w FROM wm))
ORDER BY user_id, session_start_us""",
)
def stream_sessionize_q(spark, sf):
    # timestamps round-trip through Arrow in the stateful fn; pin UTC so
    # the stateful processing is identical on ANY session, and restore
    # the caller's timezone after (the query must not permanently mutate
    # session state). The session bounds leave as EPOCH MICROSECONDS
    # (unix_micros — pure instant arithmetic, no timezone rendering at
    # all), so the lazy frame stays hash-stable no matter what timezone
    # the caller or driver later collects it under (review finding,
    # round 4: strings/timestamps rendered after the restore would
    # shift on non-UTC sessions).
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        sdf = sessionize_stateful(
            read_events_stream(spark, f"{sf}/events.parquet"), gap_minutes=15
        )
        out = _run_stream(
            sdf, output_mode="append", src=f"{sf}/events.parquet"
        ).select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        ).orderBy("user_id", "session_start_us")
        # keep _detach's loud-fail size guard (a misconfigured SF must
        # raise, not OOM the driver) without its pandas materialization
        # — BIGINT columns are tz-independent, so the lazy frame itself
        # is safe to return
        if out.limit(_DETACH_MAX_ROWS + 1).count() > _DETACH_MAX_ROWS:
            raise ValueError(
                f"streaming query result exceeds the {_DETACH_MAX_ROWS}-row "
                "driver detach bound; run at a smaller SF"
            )
        return out
    finally:
        if prev_tz is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)


# ---------------------------------------------------------------------
# Shared steps of the sealed-log lifecycle queries (sql_4mc_*,
# proto_4mc_*, maintenance_compact_*, stream_4mc_*, stream_proto_sink).
# Each query stages events as sealed 4mc/4mz containers in a scratch dir,
# optionally seals sidecars (ANALYZE or write-time stats) and plants a
# poison file, then reads the dir back through the fourmc / fourmcproto
# scan and aggregates. Every query is a straight-line sequence of these
# steps, so each Spark action it takes stays visible in its own body.
# ---------------------------------------------------------------------

# the event columns every lifecycle fixture carries: as the typed-scan
# DDL (jsonschema / csvschema / statsschema) and as the protobuf field
# list of the fourmcproto twins
_EV_COLS = ("event_id", "user_id", "event_type", "value")
_EV_DDL = "event_id bigint, user_id bigint, event_type string, value double"
_EV_PROTO_FIELDS = [
    {"number": 1, "name": "event_id", "type": "int64"},
    {"number": 2, "name": "user_id", "type": "int64"},
    {"number": 3, "name": "event_type", "type": "string"},
    {"number": 4, "name": "value", "type": "double"},
]
_EV_PROTO_JSON = json.dumps(_EV_PROTO_FIELDS)

# the 4mc stream-source gate queries: events ride as JSON lines in sealed
# .4mz files (ts as a formatted string so from_json rebuilds exact
# micros), then come back as a typed stream
_EV_JSON_SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                   "event_type STRING, value DOUBLE")


@contextlib.contextmanager
def _scratch_dir(spark, prefix: str):
    """Register the fourmc sources (idempotent — a caller's session may
    not have gone through get_spark) and yield a fresh temp dir, removed
    when the block exits, whether it returns or raises."""
    from fourmc_spark.session import register_fourmc

    register_fourmc(spark)
    d = tempfile.mkdtemp(prefix=prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _events(spark, sf: str, *cols) -> DataFrame:
    """The events table narrowed to ``cols`` (default ``_EV_COLS``)."""
    return _t(spark, sf, "events").select(*(cols or _EV_COLS))


def _ts_text():
    # ts at FULL microsecond precision (to_json renders millis), so a
    # parse back hash-matches the parquet oracle
    return F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")


def _id_ranges(spark, sf: str, n: int) -> DataFrame:
    """The events range-partitioned on event_id into n disjoint
    partitions — one sealed file each on write."""
    return _range_partition_fixture(
        _events(spark, sf), n, "event_id", f"{sf}/events.parquet"
    )


def _lines(df: DataFrame, encode=F.to_json) -> DataFrame:
    """One text line per row: ``encode`` (to_json / to_csv) of every
    column, as the ``value`` column the fourmc sink writes."""
    return df.select(encode(F.struct(*df.columns)).alias("value"))


def _from_json(df: DataFrame, schema: str = _EV_JSON_SCHEMA) -> DataFrame:
    return df.select(F.from_json("value", schema).alias("_r")).select("_r.*")


def _save(
    df: DataFrame, path: str, proto: bool = False, level: str = "medium",
    **options,
) -> None:
    """Overwrite ``path`` with ``df`` as zstd sealed containers: text
    lines through fourmc, or the event columns as protobuf records
    through fourmcproto."""
    if proto:
        w = df.write.format("fourmcproto").option("fields", _EV_PROTO_JSON)
    else:
        w = df.write.format("fourmc")
    (w.option("codec", "zstd").option("level", level).options(**options)
     .mode("overwrite").save(path))


def _scan(spark, path: str, model: str = "json") -> DataFrame:
    """Typed scan of the event columns: ``json`` or ``csv`` lines in
    fourmc containers, or ``proto`` records through fourmcproto."""
    if model == "proto":
        r = spark.read.format("fourmcproto").option("fields", _EV_PROTO_JSON)
    else:
        r = spark.read.format("fourmc").option(f"{model}schema", _EV_DDL)
    return r.load(path)


def _stream_events(spark, sf: str, root: str, proto: bool = False,
                   **options) -> str:
    """Stream the event columns from parquet through writeStream into
    sealed zstd files — JSON lines through fourmc, protobuf records
    through fourmcproto — drain with availableNow, and return the
    output dir (``root``/out; the checkpoint is ``root``/ckpt)."""
    sdf = read_events_stream(spark, f"{sf}/events.parquet").select(*_EV_COLS)
    if proto:
        w = sdf.writeStream.format("fourmcproto").option(
            "fields", _EV_PROTO_JSON
        )
    else:
        w = _lines(sdf).writeStream.format("fourmc")
    out_dir = f"{root}/out"
    q = (
        w.option("codec", "zstd").option("level", "medium")
        .options(**options)
        .option("path", out_dir).option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return out_dir


def _analyze_proto(spark, path: str, **kw) -> None:
    """analyze_stats_proto over the fourmcproto event fields."""
    from fourmc_spark.format.protobuf import ProtoField

    analyze_stats_proto(
        spark, path,
        fields=tuple(ProtoField(**f) for f in _EV_PROTO_FIELDS), **kw,
    )


def _compact(spark, staged: str, out: str, n: int) -> dict:
    """compact_blocks ``staged`` into ``out`` with a target of 1/n of the
    staged bytes per output; returns its stats."""
    total = sum(os.path.getsize(p) for p in glob.glob(f"{staged}/part-*.4mz"))
    return compact_blocks(spark, staged, out, target_bytes=max(1, total // n))


def _plant_poison(
    d: str, columns: dict | None = None, bloom: tuple[int, int] | None = None,
    version: int = 2,
) -> None:
    """Plant ``poison.4mz`` in ``d``: garbage bytes that are no 4mc
    container, sealed with a valid, size-matching sidecar that excludes
    them — zone maps ``columns`` (default: event_id in [10^9, 2*10^9],
    disjoint from every lifecycle predicate), or with ``bloom=(bits, k)``
    an all-zero event_id bitmap under the real contract tag, so every
    probe tests absent. Planning that ever opened the file would throw
    BadHeaderError: a query over ``d`` succeeds only if the sidecar
    pruned the file before any footer read."""
    from fourmc_spark.sources.datasource import STATS_SUFFIX, seal_bloom_spec

    poison = os.path.join(d, "poison.4mz")
    with open(poison, "wb") as f:
        f.write(b"NOT-A-4MC-CONTAINER" * 16)
    meta = {"version": version, "size": os.path.getsize(poison)}
    if bloom is not None:
        bits, k = bloom
        meta["bloom"] = {
            # all-zero bitmap: every probe provably absent
            "event_id": seal_bloom_spec(bytes(bits // 8), bits, k, "int"),
        }
    else:
        meta["rows"] = 1
        meta["columns"] = columns or {
            "event_id": {"min": 10**9, "max": 2 * 10**9, "nulls": 0}
        }
    with open(poison + STATS_SUFFIX, "w") as f:
        json.dump(meta, f)


def _event_totals(
    df: DataFrame, key: str = "event_type", value_sum: bool = True
) -> DataFrame:
    """Per-``key`` row count, user_id sum, optional rounded value sum and
    event_id range, ordered by ``key``."""
    aggs = [
        F.count("*").cast("long").alias("cnt"),
        F.sum("user_id").cast("long").alias("user_sum"),
    ]
    if value_sum:
        aggs.append(F.round(F.sum("value"), 2).alias("value_sum"))
    aggs += [
        F.min("event_id").cast("long").alias("min_event"),
        F.max("event_id").cast("long").alias("max_event"),
    ]
    return df.groupBy(key).agg(*aggs).orderBy(key)


def _event_rows(df: DataFrame, ids: list[int]) -> DataFrame:
    """The event columns of the rows whose event_id is in ``ids`` (a
    pushed IN-list: the scan turns it into bloom point probes)."""
    return (
        df.where(F.col("event_id").isin(ids))
        .select(*_EV_COLS).orderBy("event_id")
    )


def _stage_events_4mz(spark, sf: str, d: str, n_files: int) -> None:
    ev = _events(spark, sf, "event_id", _ts_text(), "user_id", "event_type",
                 "value")
    _save(_lines(ev).repartition(n_files), d, level="fast")


def _events_json_stream(spark, path: str, **options) -> DataFrame:
    return _from_json(
        spark.readStream.format("fourmc").options(**options).load(path)
    )


@query(
    "proto_4mc_roundtrip",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV} GROUP BY event_type ORDER BY event_type""",
)
def proto_4mc_roundtrip_q(spark, sf):
    # The PROTOBUF surface (S8/K4) through the oracle gate — the proto
    # twin of stream_4mc_tumbling: events are wire-encoded as
    # ElephantBird block-framed protobuf records inside 4mz via the
    # fourmcproto sink, read back through the fourmcproto scan, and
    # aggregated; the result must equal the batch oracle exactly, so a
    # varint/zigzag/field-framing bug anywhere in the round trip breaks
    # the hash match.
    with _scratch_dir(spark, "fourmc-proto-rt-") as d:
        _save(_events(spark, sf), d, proto=True)
        return _detach(_event_totals(_scan(spark, d, "proto")))


@query(
    "proto_4mc_zonemap_scan",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 1500 AND 3099
       GROUP BY event_type ORDER BY event_type""",
)
def proto_4mc_zonemap_scan_q(spark, sf):
    # Zone maps for the PROTOBUF typed scan (round 10): before this,
    # the proto reader got partition/path pruning but a range predicate
    # on a payload int64 (the reference's `birthDate` shape,
    # user.proto:11) scanned every file. analyze_stats_proto streams
    # each file's EB records once (one task per file, sidecar written
    # executor-side) and records the same two-tier sidecar the text
    # scan uses, keyed by the sync-marker-owner block offset; the
    # shared pushFilters accepts value constraints on the declared
    # scalar payload fields. Same poison proof as the text twins: a
    # garbage container with a valid out-of-range sidecar is planted —
    # green iff file pruning engaged before any footer read.
    with _scratch_dir(spark, "fourmc-proto-zm-") as d:
        _save(_id_ranges(spark, sf, 6), d, proto=True)
        _analyze_proto(spark, d)
        _plant_poison(d)
        back = _scan(spark, d, "proto").where(
            F.col("event_id").between(1500, 3099)
        )
        return _detach(_event_totals(back))


@query(
    "proto_4mc_bloom_scan",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
              CAST(user_id AS BIGINT) AS user_id,
              event_type, value
       FROM events WHERE event_id IN (9, 230, 615)
       ORDER BY event_id""",
)
def proto_4mc_bloom_scan_q(spark, sf):
    # Bloom sidecars on the PROTOBUF typed scan (round 10): events are
    # written UNCLUSTERED (hash repartition — every file's event_id
    # span covers the domain, so the proto zone tier keeps all of
    # them), and analyze_stats_proto seals per-file bloom bitmaps IN
    # THE SAME decode pass (bloom_columns: xxh64(str(value)) seed 42 —
    # byte-identical to the NDJSON tier's JVM CAST-AS-STRING contract,
    # so the shared bloom probe (_excluded) needs no proto-specific
    # path). The reader's pushFilters turns the IN-list into point
    # probes and drops files whose bloom proves all ids absent. Poison
    # proof: a garbage container with an all-zero bloom under the real
    # contract tag — green iff the probe pruned it before any footer
    # read.
    bits, k = 1 << 18, 6
    with _scratch_dir(spark, "fourmc-proto-bloom-") as d:
        # UNCLUSTERED: the zone tier keeps every file
        _save(_events(spark, sf).repartition(6), d, proto=True)
        _analyze_proto(
            spark, d, bloom_columns=["event_id"], bloom_bits=bits, bloom_k=k
        )
        _plant_poison(d, bloom=(bits, k))
        return _detach(_event_rows(_scan(spark, d, "proto"), [9, 230, 615]))


@query(
    "proto_4mc_zonemap_blocks_scan",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 900 AND 2499
       GROUP BY event_type ORDER BY event_type""",
)
def proto_4mc_zonemap_blocks_scan_q(spark, sf):
    # BLOCK tier of the proto zone maps (round 10; proto twin of
    # sql_4mc_zonemap_blocks_scan): events sorted by event_id into 2
    # sealed EB-protobuf files with 8 KiB container blocks and 25
    # records per EB block, so the range's selectivity lives INSIDE
    # files; analyze_stats_proto keys per-block min/max by the block in
    # which each record's sync marker STARTS — the exact ownership rule
    # the split reader enforces — and the planner drops non-matching
    # blocks within kept files. The hash oracle is unforgiving about
    # the two ownership seams: an EB block SPANNING into a dropped
    # container block must still complete (split spillover), and
    # records OWNED by a dropped block must not survive via their
    # spill bytes.
    with _scratch_dir(spark, "fourmc-proto-zmb-") as d:
        _save(
            _id_ranges(spark, sf, 2).sortWithinPartitions("event_id"), d,
            proto=True, blocksize=8 * 1024, recordsperblock=25,
        )
        _analyze_proto(spark, d, blocks=True)
        back = _scan(spark, d, "proto").where(
            F.col("event_id").between(900, 2499)
        )
        return _detach(_event_totals(back))


@query(
    "stream_proto_sink",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV} GROUP BY event_type ORDER BY event_type""",
)
def stream_proto_sink_q(spark, sf):
    # K4 STREAMING twin under the oracle gate (round 8): events stream
    # from parquet through writeStream.format("fourmcproto") — rows
    # wire-encoded as ElephantBird block-framed protobuf inside sealed
    # .4mz files, with the fourmc stream sink's batch-replay-idempotent
    # deterministic commit names — then batch-read back through the
    # fourmcproto scan and aggregated. Equality with the batch oracle
    # certifies the streaming proto pipeline sealed every row exactly
    # once AND every varint/zigzag/EB frame survived; the proto twin of
    # stream_4mc_sink the way proto_4mc_roundtrip twins
    # stream_4mc_tumbling. Scale shape: one sealed file per task per
    # micro-batch, no driver data path.
    with _scratch_dir(spark, "fourmc-proto-stream-") as root:
        out_dir = _stream_events(spark, sf, root, proto=True)
        return _detach(_event_totals(_scan(spark, out_dir, "proto")))


@query(
    "sql_4mc_pruned_scan",
    """WITH params AS (
         SELECT GREATEST(128, ((count(*) + 127) // 128) // 2 * 128) AS skip
         FROM {EV})
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV}, params
       WHERE event_id > skip
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_pruned_scan_q(spark, sf):
    # Batch SQL over the 4mc DataSource with a RESULT-AFFECTING pushed
    # offset filter (VERDICT r6 #5): S1b's block pruning itself goes
    # under the driver hash gate, not just under a pytest.
    #
    # The construction makes compressed-block ownership SQL-derivable:
    # events serialize as FIXED 32-byte lines (31 chars + \n), sorted by
    # event_id through ONE writer, with blocksize 4096 = 128 lines — the
    # sink packs bytes to exactly blocksize (format/writer.py write).
    # Ownership is Hadoop-convention: a line belongs to the block
    # holding its PRECEDING byte (iter_line_batches), so a
    # line starting exactly at a block boundary is owned by the previous
    # block — block j owns lines (128j, 128j+128]. Filtering
    # offset >= offsets[skip//128] therefore equals event_id > skip,
    # which DuckDB states directly — while Spark gets there through the
    # compressed sink, the footer block index, planning-time block
    # pruning of the pushed >= filter, mid-split resync, and fixed-width
    # parse. Any defect in that chain changes the hash.
    #
    # Scale shape: the single-writer + tiny-block layout is the
    # DEMONSTRATION's contract (it makes pruning oracle-checkable), not
    # an engine limit — the scan side stays fully parallel
    # (maxpartitionbytes splits), and the cutoff is a FOOTER-ONLY read
    # (scan_file_info: one tail read, no data scan), the same metadata
    # any reader of the file holds.
    from fourmc_spark.format.reader import scan_file_info

    ev = _t(spark, sf, "events")
    lines = ev.select(
        F.concat_ws(
            ",",
            F.lpad(F.col("event_id").cast("string"), 10, "0"),
            F.lpad(F.col("user_id").cast("string"), 10, "0"),
            F.rpad(F.col("event_type"), 9, " "),
        ).alias("value"),
        "event_id",
    )
    with _scratch_dir(spark, "fourmc-sql-scan-") as d:
        _save(
            lines.repartition(1).sortWithinPartitions("event_id")
            .select("value"),
            d, blocksize=4096,
        )
        n = ev.count()
        # skip floor of 128: at skip=0 the Spark filter would keep line 0
        # (owned by block 0 — no preceding byte) while the oracle's
        # `event_id > 0` drops it; clamping to one full block keeps the
        # two sides equivalent at ANY table size (<=128 rows -> both empty)
        skip = max(128, ((n + 127) // 128) // 2 * 128)
        (path,) = glob.glob(f"{d}/part-*.4mz")
        _, fsize, offsets = scan_file_info(path)  # footer-only tail read
        jcut = skip // 128
        cutoff = offsets[jcut] if jcut < len(offsets) else fsize
        back = (
            spark.read.format("fourmc")
            .option("maxpartitionbytes", 65536).load(d)
            .where(F.col("offset") >= cutoff)  # pushed -> blocks pruned
        )
        parsed = back.select(
            F.substring("value", 1, 10).cast("long").alias("event_id"),
            F.substring("value", 12, 10).cast("long").alias("user_id"),
            F.trim(F.substring("value", 23, 9)).alias("event_type"),
        )
        return _detach(_event_totals(parsed, value_sum=False))


@query(
    "sql_4mc_file_pruned_scan",
    """WITH params AS (
         SELECT (count(*) + 7) // 8 AS step FROM {EV})
       SELECT CAST(((event_id - 1) // step) % 8 AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV}, params
       WHERE ((event_id - 1) // step) % 8 % 2 = 1
       GROUP BY 1 ORDER BY 1""",
)
def sql_4mc_file_pruned_scan_q(spark, sf):
    # WHOLE-FILE pruning under the driver hash gate (VERDICT r7 #3):
    # sql_4mc_pruned_scan certifies block pruning *within* a file; at
    # 100 TB the bigger win is never opening non-matching FILES at all.
    # Reference analog: per-file footer-index caching + split planning
    # (FourMcInputFormat.java:126-173) — Hadoop prunes files by input
    # path, we prune by hive partition values pushed into the planner.
    #
    # Construction: events land in 8 hive partition dirs
    # (bucket=(event_id-1) DIV step MOD 8, step=ceil(n/8) — contiguous
    # event_id ranges, derivable in SQL from count(*) alone). The read
    # pushes `bucket IN ('1','3','5','7')` (pushFilters -> _pcol_allowed),
    # so planning SKIPS the four even-bucket files before any footer
    # read: they contribute ZERO input partitions (pinned in
    # tests/test_datasource.py::test_file_pruned_scan_layout_zero_partitions).
    # The oracle states the same predicate arithmetically; a planner that
    # pruned the wrong file, or a writer that routed a row to the wrong
    # dir, breaks the hash.
    #
    # Scale shape: pruning cost is O(files) path-string checks on the
    # driver — no data read, no footer read for pruned files; the kept
    # files still split by maxpartitionbytes, so the scan stays parallel.
    ev = _t(spark, sf, "events")
    n = ev.count()
    step = (n + 7) // 8
    lines = ev.select(
        F.concat_ws(",", "event_id", "user_id").alias("value"),
        F.expr(f"CAST(pmod((event_id - 1) DIV {step}, 8) AS STRING)")
        .alias("bucket"),
    )
    with _scratch_dir(spark, "fourmc-file-prune-") as d:
        _save(lines, d, partitionby="bucket")
        back = (
            spark.read.format("fourmc")
            .option("partitioncolumns", "bucket").load(d)
            # pushed In filter -> even-bucket files pruned at planning
            .where(F.col("bucket").isin(["1", "3", "5", "7"]))
        )
        parsed = back.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.split("value", ",").getItem(0).cast("long").alias("event_id"),
            F.split("value", ",").getItem(1).cast("long").alias("user_id"),
        )
        return _detach(_event_totals(parsed, "bucket", value_sum=False))


@query(
    "sql_4mc_zonemap_scan",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 1200 AND 2799
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_zonemap_scan_q(spark, sf):
    # DATA-DEPENDENT whole-file pruning under the driver hash gate
    # (round 9): sql_4mc_file_pruned_scan prunes by hive PATH values;
    # this one prunes by CONTENT zone maps — analyze_stats() sidecars
    # record per-file min/max, and the typed NDJSON scan
    # (option jsonschema) pushes the event_id range into the planner,
    # which skips every file whose [min, max] cannot overlap. That is
    # the Iceberg/parquet-footer tier for time/id-ordered sealed logs —
    # at 100 TB a range query opens only the few files that can match.
    #
    # The pruning is PROVEN inside the gate: after ANALYZE, a poison
    # file of garbage bytes (not a 4mc container) is planted with a
    # valid, size-matching sidecar whose range [10^9, 2*10^9] is
    # disjoint from the predicate. Planning that ever opened that file
    # would throw BadHeaderError and the gate would go red; the query
    # succeeds iff the zone map excluded it before any footer read.
    # Conservative-safety twin pins live in
    # tests/test_datasource.py (stale/missing sidecars never prune).
    with _scratch_dir(spark, "fourmc-zonemap-") as d:
        _save(_lines(_id_ranges(spark, sf, 6)), d)
        analyze_stats(spark, d, _EV_DDL)
        _plant_poison(d, version=1)
        back = _scan(spark, d).where(F.col("event_id").between(1200, 2799))
        return _detach(_event_totals(back))


@query(
    "sql_4mc_zonemap_blocks_scan",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 800 AND 1999
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_zonemap_blocks_scan_q(spark, sf):
    # BLOCK tier of the zone map under the driver hash gate (round 9):
    # sql_4mc_zonemap_scan proves file-level pruning; here events are
    # globally SORTED by event_id into just 2 sealed files with 16 KiB
    # blocks, so the range predicate's selectivity lives INSIDE files —
    # analyze_stats(blocks=True) records per-block min/max keyed by the
    # block offset the scan exposes, and the planner drops non-matching
    # blocks within the kept file(s) (the parquet-row-group analog for
    # sealed 4mc logs). The hash oracle is unforgiving about the two
    # ownership seams: a line SPANNING into a dropped block must still
    # complete (split spillover), and a line OWNED by a dropped block
    # must not survive via its spill bytes. Partition-count pins:
    # tests/test_datasource.py::test_block_zone_maps_prune_within_file.
    with _scratch_dir(spark, "fourmc-zonemap-blk-") as d:
        ev = _id_ranges(spark, sf, 2).sortWithinPartitions("event_id")
        _save(_lines(ev), d, blocksize=16 * 1024)
        analyze_stats(spark, d, _EV_DDL, blocks=True)
        back = _scan(spark, d).where(F.col("event_id").between(800, 1999))
        return _detach(_event_totals(back))


def _bpe_learn_sql(n_merges: int) -> str:
    """Unrolled BPE-training oracle (fixed greedy rounds, the pagerank /
    ivf_kmeans pattern). The trick that makes a merge round ONE SQL
    expression: encode each word's symbol sequence as
    ``SEP+sym+SEP`` concatenated. SEP = chr(1) — a limitation of the
    ORACLE only: a corpus word containing \\x01 would mis-segment the
    encoding (the Spark side handles any character fine); the driver
    corpora contain none (verified at all three SFs). Applying merge
    (l, r) is then exactly a plain substring
    ``replace(SEP+l+SEP+SEP+r+SEP -> SEP+lr+SEP)`` — left-to-right
    non-overlapping, which IS the BPE merge rule ("aaa" + (a,a) ->
    [aa, a]). Pair counting re-splits on SEP+SEP. All counts are exact
    integer sums; the greedy pick is (count DESC, l, r) — total order,
    no float anywhere."""
    ctes, _ = _bpe_chain_ctes(n_merges)
    un = "\nUNION ALL ".join(
        f'SELECT CAST({t} AS BIGINT) AS rank, l AS "left", r AS "right", '
        f"cnt AS pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ctes + f"\nSELECT * FROM ({un}) ORDER BY rank"


def _bpe_chain_ctes(n_merges: int) -> tuple[str, str]:
    """The shared learn-chain CTEs (words -> v0 -> [p,b,v]{1..n}),
    carrying the word through every round so the final v{n} doubles as
    the fully-merged vocabulary for the encode oracle. Returns
    (cte_block, last_vocab_cte_name)."""
    SEP, DSEP = "chr(1)", "chr(1)||chr(1)"
    ctes = [f"""words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w != '' GROUP BY w),
v0 AS (
  SELECT w, freq,
         {SEP} || array_to_string(list_append(str_split(w, ''), '</w>'),
                                  {DSEP}) || {SEP} AS enc
  FROM words)"""]
    for t in range(1, n_merges + 1):
        ctes.append(f"""p{t} AS (
  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, syms[i] AS l, syms[i+1] AS r FROM
      (SELECT freq, str_split(trim(enc, chr(1)), {DSEP}) AS syms FROM v{t-1}),
      unnest(generate_series(1, len(syms)-1)) AS t(i))
  GROUP BY l, r),
b{t} AS (SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l, r LIMIT 1),
v{t} AS (
  SELECT v.w, v.freq,
         CASE WHEN b.l IS NULL THEN v.enc
              ELSE replace(v.enc, {SEP}||b.l||{DSEP}||b.r||{SEP},
                           {SEP}||b.l||b.r||{SEP}) END AS enc
  FROM v{t-1} v LEFT JOIN b{t} b ON TRUE)""")
    return ",\n".join(ctes), f"v{n_merges}"


def _bpe_encode_sql(n_merges: int) -> str:
    """Encode oracle: the learn chain's final vocabulary v{n} maps each
    word to its merged symbol string; documents re-join their words (in
    position order) and flatten the per-word token lists. Zero new
    mechanisms beyond the learn oracle — same chain, different tail."""
    ctes, vN = _bpe_chain_ctes(n_merges)
    DSEP = "chr(1)||chr(1)"
    return f"""WITH {ctes},
docw AS (
  SELECT d.doc_id, t.i, d.sp[t.i] AS w FROM
    (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d,
    unnest(generate_series(1, len(d.sp))) AS t(i)
  WHERE d.sp[t.i] != ''),
tok AS (
  SELECT dw.doc_id, dw.i,
         str_split(trim(v.enc, chr(1)), {DSEP}) AS toks
  FROM docw dw JOIN {vN} v ON dw.w = v.w)
SELECT doc_id, flatten(list(toks ORDER BY i)) AS tokens,
       CAST(len(flatten(list(toks ORDER BY i))) AS BIGINT) AS n_tokens
FROM tok GROUP BY doc_id ORDER BY doc_id"""


def _bpe_encode_gate_sql(n_merges: int) -> str:
    """Gate projection over :func:`_bpe_encode_sql`: the driver's
    canonicalizer can't hash raw list cells, so the token array goes out
    pipe-joined (the q38_array_agg convention). The array-producing SQL
    stays intact — the property-fuzz tests compare it element-wise."""
    return f"""SELECT doc_id, array_to_string(tokens, '|') AS tokens, n_tokens
FROM ({_bpe_encode_sql(n_merges)}) ORDER BY doc_id"""


@query("text_bpe_learn", _bpe_learn_sql(10))
def text_bpe_learn_q(spark, sf):
    # BPE tokenizer training — previously rows-only; now oracle-checkable
    # via the unrolled greedy-round SQL twin (_bpe_learn_sql): every merge
    # round is integer-exact (counts are sums of longs, the pick a total
    # order), so the fixed-iteration unroll hash-matches. Also pinned
    # against an independent pure-Python BPE reference in
    # tests/test_dedup.py::test_bpe_learn_matches_reference.
    return text.bpe_learn(
        _t(spark, sf, "documents"), n_merges=10
    ).orderBy("rank")


def _bpe_vocab_sql(n_merges: int) -> str:
    """Oracle for the learned subword inventory: corpus token frequencies
    = per-word merged symbols weighted by word frequency (no re-scan of
    the documents — the (word, freq) table carries the counts)."""
    ctes, vN = _bpe_chain_ctes(n_merges)
    DSEP = "chr(1)||chr(1)"
    return f"""WITH {ctes},
toks AS (
  SELECT t.tok AS token, v.freq FROM
    (SELECT freq, str_split(trim(enc, chr(1)), {DSEP}) AS syms FROM {vN}) v,
    unnest(v.syms) AS t(tok))
SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM toks GROUP BY token ORDER BY n_occurrences DESC, token"""


@query("text_bpe_vocab", _bpe_vocab_sql(10))
def text_bpe_vocab_q(spark, sf):
    # the learned subword inventory with corpus frequencies — computed
    # from the vocab-sized (word, freq) table (weighted by word freq),
    # NOT by re-encoding the corpus: at 100 TB the token histogram costs
    # a vocab-sized explode + one aggregate
    docs = _t(spark, sf, "documents")
    merges = text.bpe_learn(docs, n_merges=10)
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    enc = text.bpe_encode(
        words.withColumn("wid", F.col("w")), merges,
        text_col="w", id_col="wid",
    )
    return (
        enc.join(words, enc["wid"] == words["w"])
        .select(F.explode("tokens").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
    )


def _pack_tokens_sql(n_merges: int, seq_len: int) -> str:
    """Oracle for token-sequence packing: the encode tail's per-doc token
    arrays, per-source running offsets (doc-level window), and a
    position-ordered regroup into ``seq_len`` windows."""
    ctes, vN = _bpe_chain_ctes(n_merges)
    DSEP = "chr(1)||chr(1)"
    return f"""WITH {ctes},
docw AS (
  SELECT d.doc_id, t.i, d.sp[t.i] AS w FROM
    (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d,
    unnest(generate_series(1, len(d.sp))) AS t(i)
  WHERE d.sp[t.i] != ''),
tokw AS (
  SELECT dw.doc_id, dw.i,
         str_split(trim(v.enc, chr(1)), {DSEP}) AS toks
  FROM docw dw JOIN {vN} v ON dw.w = v.w),
enc AS (
  SELECT doc_id, flatten(list(toks ORDER BY i)) AS tokens
  FROM tokw GROUP BY doc_id),
doc2 AS (
  SELECT e.doc_id, d.source, e.tokens,
         CAST(len(e.tokens) AS BIGINT) AS n
  FROM enc e JOIN documents d USING (doc_id)),
offs AS (
  SELECT source, tokens,
         sum(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n AS off
  FROM doc2),
flat AS (
  SELECT source, off + t.i - 1 AS g, tokens[t.i] AS token
  FROM offs, unnest(generate_series(1, len(tokens))) AS t(i))
SELECT source, CAST(g // {seq_len} AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       list(token ORDER BY g % {seq_len}) AS tokens
FROM flat GROUP BY source, g // {seq_len} ORDER BY source, seq_id"""


def _pack_tokens_gate_sql(n_merges: int, seq_len: int) -> str:
    """Gate projection over :func:`_pack_tokens_sql` — same pipe-joined
    token column as :func:`_bpe_encode_gate_sql`, same reason."""
    return f"""SELECT source, seq_id, n_tokens,
       array_to_string(tokens, '|') AS tokens
FROM ({_pack_tokens_sql(n_merges, seq_len)}) ORDER BY source, seq_id"""


@query("curation_pack_tokens", _pack_tokens_gate_sql(10, 256))
def curation_pack_tokens_q(spark, sf):
    # the terminal LLM data-prep step: learn a tokenizer, encode the
    # corpus, and pack token streams into fixed 256-token training
    # sequences per source shard (crossing doc boundaries). The packing
    # shuffle key (source, seq_id) holds exactly seq_len tokens — a
    # perfectly balanced shuffle regardless of doc-length skew.
    docs = _t(spark, sf, "documents")
    merges = text.bpe_learn(docs, n_merges=10)
    enc = text.bpe_encode(docs, merges)
    grouped = enc.join(docs.select("doc_id", "source"), "doc_id")
    packed = curation.pack_token_sequences(grouped, seq_len=256)
    # gate projection only: the driver's canonicalizer (pandas
    # sort_values over every output column) cannot hash raw list cells,
    # so stringify the token array the q38_array_agg way — order inside
    # the sequence is deterministic, no sort needed
    return packed.select(
        "source", "seq_id", "n_tokens",
        F.concat_ws("|", "tokens").alias("tokens"),
    ).orderBy("source", "seq_id")


@query("text_bpe_encode", _bpe_encode_gate_sql(10))
def text_bpe_encode_q(spark, sf):
    # the tokenizer APPLY step: train the merge table (one corpus pass +
    # driver merge loop), broadcast it, and encode every document in a
    # map-only Arrow batch with a per-batch word memo. Token order =
    # word order x within-word symbol order; exact by construction, so
    # the oracle (the learn chain's final vocabulary joined back onto
    # word positions) hash-matches.
    docs = _t(spark, sf, "documents")
    merges = text.bpe_learn(docs, n_merges=10)
    # gate projection only (operator API unchanged): stringify the token
    # array so the driver's pandas-sort canonicalizer can hash the row
    return text.bpe_encode(docs, merges).select(
        "doc_id",
        F.concat_ws("|", "tokens").alias("tokens"),
        "n_tokens",
    ).orderBy("doc_id")


@query(
    "text_winnow_fingerprints",
    f"""WITH t AS (
  SELECT doc_id,
         list_transform({shingles_duck(tokens_duck('text'))},
                        g -> {token_hash_duck('g')}) AS hs
  FROM documents WHERE len(string_split(text, ' ')) >= 3),
g AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h,
             generate_subscripts(hs, 1) AS pos FROM t),
w AS (SELECT doc_id, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos
      FROM g),
f AS (SELECT DISTINCT doc_id, n_grams, fp
      FROM w WHERE pos <= n_grams - 3)
SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(min(fp) AS BIGINT) AS fp_min,
       CAST(sum(fp) % 2147483647 AS BIGINT) AS fp_checksum
FROM f GROUP BY doc_id ORDER BY doc_id""",
)
def text_winnow_q(spark, sf):
    # winnowing (MOSS) fingerprints: guaranteed-overlap local dedup
    # signal at ~2/(w+1) density; value-DISTINCT selection means tie
    # positions never matter, so the SQL window twin matches exactly.
    return text.winnow_fingerprints(
        _t(spark, sf, "documents"), k=3, w=4
    ).orderBy("doc_id")


@query(
    "text_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents),
     tot AS (SELECT count(*) AS n FROM toks)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM toks GROUP BY token
HAVING count(*) >= ceil((SELECT n FROM tot) * 0.002)
ORDER BY cnt DESC, token""",
)
def text_heavy_hitters_q(spark, sf):
    # EXACT corpus-frequent tokens the scale-shaped way: per-partition
    # Misra-Gries sketches (map-only, bounded memory) nominate a
    # guaranteed candidate superset; a broadcast-candidate recount makes
    # the result exact, so it hash-matches the naive GROUP BY/HAVING
    # oracle while shuffling only candidate keys instead of the full
    # token stream (operators/text.py heavy_hitters; threshold
    # ceil(phi*N) computed from the same IEEE double product both
    # sides).
    return text.heavy_hitters(_t(spark, sf, "documents"), phi=0.002)


@query(
    "stream_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents),
     tot AS (SELECT count(*) AS n FROM toks)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM toks GROUP BY token
HAVING count(*) >= ceil((SELECT n FROM tot) * 0.002)
ORDER BY cnt DESC, token""",
)
def stream_heavy_hitters_q(spark, sf):
    # STREAMING frequent-token monitoring under the batch hash gate
    # (round-10 stretch): the Misra-Gries summary is mergeable across
    # micro-batches, so it lives as applyInPandasWithState keyed state
    # (token-hash buckets, one capacity-m summary each) updated per
    # trigger; every trigger re-emits the touched buckets' sketches.
    # Documents arrive across THREE micro-batches (one seed file drains
    # first, two more trickle in under maxfilespertrigger=1 — the
    # stream_4mc_multibatch technique; r11 trimmed five batches to
    # three per guide §1.2/VERDICT r10 #4: each stateful trigger costs
    # a fixed ~0.9 s of addBatch scaffolding regardless of batch size,
    # and the late-arrival semantics — state merged across a seed batch
    # plus MULTIPLE later arrivals — need only >=2 late batches; the MG
    # superset guarantee is batching-independent by the mergeability
    # argument in heavy_hitters_sketch_stream's docstring), then
    # heavy_hitters_finalize takes each bucket's latest sketch as the
    # candidate superset and exact-recounts over the accumulated
    # corpus. Equality with the batch GROUP BY/HAVING oracle proves the
    # state carried the superset guarantee across commits — a candidate
    # lost anywhere in the chain (state dropped, version mixed, trailer
    # miscounted) would lose a heavy token and break the hash. Same phi
    # as text_heavy_hitters, the batch twin.
    ddl = "doc_id bigint, text string"
    with _scratch_dir(spark, "fourmc-stream-hh-") as root:
        staged, live, ckpt = f"{root}/staged", f"{root}/live", f"{root}/ckpt"
        (
            _t(spark, sf, "documents").select("doc_id", "text")
            .repartition(3)
            .select(F.to_json(F.struct("doc_id", "text")).alias("value"))
            .write.format("fourmc").option("codec", "zstd")
            .mode("overwrite").save(staged)
        )
        files = sorted(glob.glob(f"{staged}/part-*.4mz"))
        total_staged = sum(os.path.getsize(f) for f in files)
        os.makedirs(live)
        os.rename(files[0], f"{live}/{os.path.basename(files[0])}")
        sdf = (
            spark.readStream.format("fourmc")
            .option("maxfilespertrigger", "1").load(live)
            .select(F.from_json("value", ddl).alias("r")).select("r.*")
        )
        name = f"qhh_{uuid.uuid4().hex[:12]}"
        # Streaming stateful shuffles get no AQE coalescing, so the state
        # op runs spark.sql.shuffle.partitions full tasks (python round
        # trip + state-store commit each) EVERY trigger regardless of
        # batch volume (guide §2.2: size reduce partitions to the data).
        # Width derives from the STAGED BYTES via the shared drain_width
        # formula (~4 MiB/partition, floor 4, clamped to the session
        # width), so the pin scales with the fixture instead of silently
        # capping a big-sf run; FOURMC_HH_STATE_PARTITIONS overrides.
        # Interleaved min-of-3 at sf0.1 (width 4-8 vs 32): 7.9 -> 5.8 s.
        # `is not None`, not `or`: an explicitly-set empty override must
        # hit pinned_shuffle_width's loud validation exactly like the
        # FOURMC_STREAM_SHUFFLE_PARTITIONS path, not silently fall
        # through to the computed width (ADVICE r10)
        env_width = os.environ.get("FOURMC_HH_STATE_PARTITIONS")
        width = (
            env_width if env_width is not None
            else drain_width(spark, total_staged)
        )
        with pinned_shuffle_width(spark, width):
            q = (
                heavy_hitters_sketch_stream(sdf, phi=0.002)
                .writeStream.format("memory").queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt).start()
            )
            try:
                q.processAllAvailable()  # batch 0: the seed file
                for f in files[1:]:  # one micro-batch per late arrival
                    os.rename(f, f"{live}/{os.path.basename(f)}")
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination()
        corpus = (
            spark.read.format("fourmc").load(live)
            .select(F.from_json("value", ddl).alias("r")).select("r.*")
        )
        out = heavy_hitters_finalize(
            spark.table(name), corpus, phi=0.002
        )
        return _detach(out)


def _rp_oracle() -> str:
    """Random-projection oracle: the identical quantized Gaussian matrix
    inlined as literals; every output component is an exact int64 dot
    product, so Spark's numpy matmul and DuckDB's list_dot_product agree
    bit-for-bit (doubles are exact far beyond these magnitudes)."""
    G = similarity.projection_matrix(64, 8, seed=113, scale=1000)
    comps = ", ".join(
        "CAST(list_dot_product(q, ["
        + ", ".join(str(g) for g in row)
        + f"]) AS BIGINT) AS p{j}"
        for j, row in enumerate(G)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings)
SELECT vec_id,
       array_to_string([{", ".join(f"p{j}" for j in range(8))}], '|') AS proj
FROM (SELECT vec_id, {comps} FROM q) ORDER BY vec_id"""


@query("embedding_random_projection", _rp_oracle())
def embedding_random_projection_q(spark, sf):
    # integer-exact Johnson-Lindenstrauss projection (quantized input x
    # quantized seeded Gaussian matrix): the dimensionality-reduction /
    # sketching primitive, map-only, bit-reproducible on any engine —
    # the float version is not oracle-checkable, the quantized one is.
    proj = similarity.random_projection(
        _t(spark, sf, "embeddings"), out_dim=8, seed=113, scale=1000
    )
    # gate projection only: stringify the int64 component array so the
    # driver's pandas-sort canonicalizer can hash the row
    return proj.select(
        "vec_id",
        F.concat_ws("|", F.col("proj").cast("array<string>")).alias("proj"),
    ).orderBy("vec_id")


# =========================================================================
# Coverage extensions: LSH-ANN, GROUPING SETS, approx distinct, UDTF
# =========================================================================

_LSH_PLANES_SEED, _LSH_PLANES_N, _EMB_DIM = 97, 8, 64


def _lsh_planes() -> list[list[float]]:
    """Same construction as similarity.lsh_ann_topk (seed 97): keeps the
    Spark operator and the DuckDB oracle on identical hyperplanes."""
    import random

    rng = random.Random(_LSH_PLANES_SEED)
    return [[rng.gauss(0, 1) for _ in range(_EMB_DIM)]
            for _ in range(_LSH_PLANES_N)]


def _lsh_oracle() -> str:
    planes = _lsh_planes()
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS sim
  FROM b JOIN q ON bit_count(xor(b.bucket, q.bucket)) <= 1
  WHERE b.vec_id != q.query_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10 ORDER BY query_id, rank"""


@query("ann_lsh_topk", _lsh_oracle())
def ann_lsh_topk_q(spark, sf):
    # the 100 TB path: each query probes its sign-pattern bucket plus the
    # n_planes one-bit-flip neighbors (multi-probe) instead of scanning
    # every vector — ~9/256 of candidates at 8 planes; recall < 1 is the
    # documented trade
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.lsh_ann_topk(
        e, q, k=10, n_planes=_LSH_PLANES_N, seed=_LSH_PLANES_SEED,
        probe_bits=1,
    ).orderBy("query_id", "rank")


_IVF_STRIDE = 101
_IVF_NPROBE = 2


@query(
    "ann_ivf_topk",
    f"""WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
             c.cell) AS rn
    FROM embeddings e, cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.ce) DESC,
             c.cell) AS rn
    FROM embeddings q, cents c WHERE q.vec_id < 5) WHERE rn <= {_IVF_NPROBE}),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(qe.embedding AS DOUBLE[])) AS sim
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
       JOIN probes p ON a.cell = p.cell
       JOIN embeddings qe ON qe.vec_id = p.query_id
  WHERE e.vec_id != p.query_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
)
def ann_ivf_topk_q(spark, sf):
    # the other 100 TB ANN path: IVF cells from deterministic data-point
    # centroids; queries probe the 2 nearest cells (recall < 1 documented)
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.ivf_topk(
        e, q, k=10, centroid_stride=_IVF_STRIDE, nprobe=_IVF_NPROBE
    ).orderBy("query_id", "rank")


def _ivf_kmeans_sql(stride: int, nprobe: int, n_iter: int, scale: int,
                    dim: int, k: int) -> str:
    """Unrolled integer-exact k-means IVF oracle (fixed iterations, the
    graph_pagerank pattern). Centroids are per-dim INTEGER SUMS — cluster
    size cancels in cosine — so every training round is order-independent
    integer arithmetic; the only floats are dot/sqrt(ss) on integers
    < 2^53, which IEEE rounds identically on every engine."""
    parts = [f"""WITH qdata AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
c0 AS (SELECT vec_id AS cell, qv AS s FROM qdata WHERE vec_id % {stride} = 0)"""]
    assign_from = (
        "SELECT d.vec_id, c.cell,\n"
        "       row_number() OVER (PARTITION BY d.vec_id ORDER BY\n"
        "         list_dot_product(d.qv, c.s)\n"
        "           / sqrt(list_dot_product(c.s, c.s)) DESC, c.cell) AS rn\n"
        "FROM qdata d, {prev} c"
    )
    prev = "c0"
    for t in range(1, n_iter + 1):
        af = assign_from.format(prev=prev)
        parts.append(f"""a{t} AS (
  SELECT vec_id, cell FROM ({af}) WHERE rn = 1),
s{t} AS (
  SELECT cell, list(sv ORDER BY i) AS s FROM (
    SELECT a.cell, dims.i, CAST(sum(d.qv[dims.i]) AS BIGINT) AS sv
    FROM a{t} a JOIN qdata d USING (vec_id)
    CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) dims
    GROUP BY a.cell, dims.i)
  GROUP BY cell),
c{t} AS (
  SELECT cell, s FROM s{t} UNION ALL
  SELECT p.cell, p.s FROM {prev} p
  WHERE p.cell NOT IN (SELECT cell FROM s{t}))""")
        prev = f"c{t}"
    af = assign_from.format(prev=prev)
    parts.append(f"""assign AS (
  SELECT vec_id, cell FROM ({af}) WHERE rn = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT d.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY d.vec_id ORDER BY
             list_dot_product(d.qv, c.s)
               / sqrt(list_dot_product(c.s, c.s)) DESC, c.cell) AS rn
    FROM qdata d, {prev} c WHERE d.vec_id < 5) WHERE rn <= {nprobe}),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(qe.embedding AS DOUBLE[])) AS sim
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
       JOIN probes p ON a.cell = p.cell
       JOIN embeddings qe ON qe.vec_id = p.query_id
  WHERE e.vec_id != p.query_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k} ORDER BY query_id, rank""")
    return ",\n".join(parts)


@query(
    "ann_ivf_kmeans_topk",
    # testdata embeddings are 64-dim at every SF (TESTDATA.md)
    _ivf_kmeans_sql(_IVF_STRIDE, _IVF_NPROBE, n_iter=3, scale=1024, dim=64, k=10),
)
def ann_ivf_kmeans_topk_q(spark, sf):
    # IVF over a Lloyd's-TRAINED quantizer — previously rows-only; now
    # oracle-checkable via the integer-exact reformulation
    # (operators/similarity.py kmeans_int_fit): quantized data, integer
    # SUM centroids (size cancels in cosine), fixed iterations unrolled
    # in the SQL twin the way graph_pagerank unrolls PageRank. The float
    # variant (kmeans_fit) stays pinned against a numpy reference and a
    # recall floor in tests/test_ann_recall.py.
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.ivf_kmeans_int_topk(
        e, q, k=10, centroid_stride=_IVF_STRIDE, nprobe=_IVF_NPROBE,
        n_iter=3, scale=1024,
    ).orderBy("query_id", "rank")


@query(
    "q24_grouping_sets",
    """SELECT n_regionkey, n_nationkey, CAST(count(*) AS BIGINT) AS c
       FROM nation GROUP BY GROUPING SETS ((n_regionkey), (n_nationkey), ())
       ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST""",
)
def q24(spark, sf):
    # arbitrary grouping-set lattices (beyond rollup/cube) — Spark plans a
    # single Expand + one hash agg, no per-set rescan
    _t(spark, sf, "nation").createOrReplaceTempView("q24_nation")
    return spark.sql(
        """SELECT n_regionkey, n_nationkey, CAST(count(*) AS BIGINT) AS c
           FROM q24_nation GROUP BY GROUPING SETS ((n_regionkey), (n_nationkey), ())
           ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST"""
    )


@query("q25_approx_distinct", "SELECT CAST(1 AS BOOLEAN) AS within_tol")
def q25(spark, sf):
    # approx_count_distinct (HLL++): sketch mergeable across partitions, no
    # exact-distinct shuffle; asserted within 10% of truth (rsd default 5%)
    return (
        _t(spark, sf, "lineitem")
        .agg(
            F.approx_count_distinct("l_suppkey").alias("approx"),
            F.count_distinct("l_suppkey").alias("exact"),
        )
        .select(
            (F.abs(F.col("approx") - F.col("exact"))
             <= 0.1 * F.col("exact")).alias("within_tol")
        )
    )


@query(
    "udtf_sentences",
    """WITH s AS (SELECT doc_id, generate_subscripts(parts, 1) AS i,
                         trim(unnest(parts)) AS sent
                  FROM (SELECT doc_id, string_split(text, '.') AS parts
                        FROM documents))
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
         AS sent_idx,
       sent AS sentence
FROM s WHERE sent <> '' ORDER BY doc_id, sent_idx""",
)
def udtf_sentences_q(spark, sf):
    """Python UDTF (Spark 4): the engine's table-function extension point.

    Row-at-a-time Python — demo of the UDTF surface (SURVEY.md §2.2
    UDF/UDAF/UDTF), not a hot path; heavy text ops use the vectorized
    operators in operators/text.py."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: bigint, sentence: string")
    class SentenceSplit:
        def eval(self, text: str):
            i = 0
            for part in (text or "").split("."):
                p = part.strip()
                if p:
                    i += 1
                    yield (i, p)

    spark.udtf.register("fourmc_sentence_split", SentenceSplit)
    _t(spark, sf, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """SELECT d.doc_id, s.sent_idx, s.sentence
           FROM udtf_docs d, LATERAL fourmc_sentence_split(d.text) s
           ORDER BY d.doc_id, s.sent_idx"""
    )


@query(
    "udaf_geomean",
    """SELECT l_returnflag,
              round(exp(avg(ln(l_extendedprice))), 2) AS geo_price
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def udaf_geomean_q(spark, sf):
    """Pandas grouped-agg UDAF (SURVEY.md §2.2 UDF/UDAF/UDTF): geometric
    mean of extended price per return flag — group math the built-in
    aggregates don't offer, Arrow-batched (one numpy reduction per group).

    Scale note: grouped-agg pandas UDFs have NO partial aggregation — every
    row of a group shuffles to one task. Use them for low-cardinality
    group-local math only; anything partial-aggregable belongs in JVM
    aggregates (here exp(avg(ln(x))) could be one — this query exists to
    pin the UDAF extension point). Spark also refuses to mix grouped-agg
    pandas UDFs with JVM aggregates in one agg() — another reason they
    stay out of hot paths.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(geomean("l_extendedprice"), 2).alias("geo_price"))
        .orderBy("l_returnflag")
    )


@query(
    "applyinpandas_zscore",
    """SELECT event_id, event_type,
              round((value - avg(value) OVER w)
                    / stddev_samp(value) OVER w, 2) AS z
       FROM events WINDOW w AS (PARTITION BY event_type)
       ORDER BY event_id""",
)
def applyinpandas_zscore_q(spark, sf):
    """Batch ``applyInPandas`` (SURVEY.md §2.2 UDF/UDAF/UDTF): per-group
    z-score normalization of event values — the grouped-map extension
    point, one Arrow-batched pandas call per group.

    Scale note: the whole group lands in one task's memory, so the group
    key must be bounded (5 event types here). Where SQL can express the
    semantics (as the window-function oracle shows for this one) prefer
    the JVM plan; applyInPandas is for genuinely imperative group logic
    (model scoring, per-group fits).
    """
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        out = pdf[["event_id", "event_type"]].copy()
        out["z"] = ((v - v.mean()) / v.std(ddof=1)).round(2)
        return out

    return (
        _t(spark, sf, "events")
        .select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore, "event_id bigint, event_type string, z double")
        .orderBy("event_id")
    )


@query(
    "q26_window_suite",
    """SELECT o_custkey, o_orderkey,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              round(lag(o_totalprice) OVER w, 2) AS prev_price,
              round(lead(o_totalprice) OVER w, 2) AS next_price,
              CAST(dense_rank() OVER
                   (PARTITION BY o_custkey ORDER BY o_orderpriority)
                   AS BIGINT) AS pri_rank,
              round(first_value(o_totalprice) OVER w, 2) AS first_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey""",
)
def q26(spark, sf):
    # remaining ranking/navigation window functions (SURVEY.md §2.2):
    # ntile / lag / lead / dense_rank / first_value in one pass — Spark
    # plans a single sort per distinct (partition, order) spec
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return (
        _t(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
            F.dense_rank().over(wp).cast("long").alias("pri_rank"),
            F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q27_pivot",
    """SELECT o_orderstatus,
              round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent,
              round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS high,
              round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium,
              round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS notspec,
              round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS low
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def q27(spark, sf):
    # pivot with an EXPLICIT value list: at scale the list avoids the
    # extra distinct-values discovery job, and the plan is one hash agg
    # over conditional aggregates (exactly the oracle's CASE form)
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = (
        _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    names = ["urgent", "high", "medium", "notspec", "low"]
    return piv.select(
        "o_orderstatus", *[F.col(f"`{p}`").alias(n) for p, n in zip(pri, names)]
    ).orderBy("o_orderstatus")


@query(
    "q28_unpivot",
    """SELECT p_partkey, metric, value FROM (
         SELECT p_partkey, 'retailprice' AS metric,
                CAST(p_retailprice AS DOUBLE) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'size' AS metric,
                CAST(p_size AS DOUBLE) AS value FROM part)
       ORDER BY p_partkey, metric""",
)
def q28(spark, sf):
    # unpivot/melt (wide -> long): no shuffle at all — a generate-style
    # projection, partition-local at any scale
    return (
        _t(spark, sf, "part")
        .select(
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot(["p_partkey"], ["retailprice", "size"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


@query(
    "q29_percentiles",
    """SELECT l_returnflag,
              quantile_disc(l_extendedprice, 0.25) AS p25,
              quantile_disc(l_extendedprice, 0.50) AS p50,
              quantile_disc(l_extendedprice, 0.75) AS p75,
              quantile_disc(l_quantity, 0.50) AS med_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def q29(spark, sf):
    # discrete percentiles return actual data elements — bit-exact across
    # engines, unlike interpolated quantile_cont where a last-ulp float
    # difference can straddle a rounding boundary. At 100 TB prefer
    # approx_percentile (mergeable sketch, q25-style); this pins exact
    # semantics.
    _t(spark, sf, "lineitem").createOrReplaceTempView("q29_li")
    return spark.sql(
        """SELECT l_returnflag,
                  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
                  percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
                  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
                  percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS med_qty
           FROM q29_li GROUP BY l_returnflag ORDER BY l_returnflag"""
    )


_QUANT_PRUNE = 50


@query(
    "ann_quantized_topk",
    f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de,
         greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> abs(x))), 1e-30) AS scale
  FROM embeddings),
qz AS (
  SELECT vec_id, de,
         list_transform(de, x -> CAST(floor(x * 127.0 / scale + 0.5)
                                      AS BIGINT)) AS qv
  FROM base),
qn AS (
  SELECT vec_id, de, qv, list_dot_product(qv, qv) AS qnorm FROM qz),
qq AS (SELECT vec_id AS query_id, de AS qde, qv AS qqv, qnorm AS qqn
       FROM qn WHERE vec_id < 5),
s1 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.de AS cde, q.qde,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           list_dot_product(c.qv, q.qqv) / sqrt(c.qnorm * q.qqn) DESC,
           c.vec_id) AS prn
  FROM qn c, qq q WHERE c.vec_id != q.query_id),
s2 AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           list_cosine_similarity(cde, qde) DESC, neighbor_id) AS rank
  FROM s1 WHERE prn <= {_QUANT_PRUNE})
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM s2 WHERE rank <= 10 ORDER BY query_id, rank""",
)
def ann_quantized_topk_q(spark, sf):
    # the memory-scale ANN path: int8 quantized vectors (4x smaller) rank
    # stage 1 with exact integer dot products; only 50 candidates/query
    # pay the float64 rescore. Integer sums are order-independent, so the
    # prune set — unlike a float-sum ranking — is partition-stable.
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.quantized_topk(e, q, k=10, prune=_QUANT_PRUNE).orderBy(
        "query_id", "rank"
    )


@query(
    "ts_rollup_cascade",
    """SELECT * FROM (
         SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket,
                event_type, CAST(count(*) AS BIGINT) AS cnt,
                round(sum(value), 4) AS sum_value,
                round(min(value), 4) AS min_value,
                round(max(value), 4) AS max_value
         FROM {EV} GROUP BY bucket, event_type
         UNION ALL
         SELECT 'day', date_trunc('day', ts), event_type,
                CAST(count(*) AS BIGINT), round(sum(value), 4),
                round(min(value), 4), round(max(value), 4)
         FROM {EV} GROUP BY 2, 3)
       ORDER BY granularity, bucket, event_type""",
)
def ts_rollup_cascade_q(spark, sf):
    # hypertable-style downsample cascade: the raw table is shuffled ONCE
    # (into hour buckets); the day level folds the hour level — at 100 TB
    # the second shuffle moves bucket-count rows, not raw rows. The
    # oracle recomputes each level from raw, proving the fold exact.
    ev = _t(spark, sf, "events")
    levels = timeseries.rollup_cascade(
        ev, "ts", ["event_type"], "value", levels=("hour", "day")
    )
    outs = []
    for name, df in levels.items():
        outs.append(
            df.select(
                F.lit(name).alias("granularity"),
                "bucket",
                "event_type",
                F.col("cnt").cast("long").alias("cnt"),
                F.round("sum_value", 4).alias("sum_value"),
                F.round("min_value", 4).alias("min_value"),
                F.round("max_value", 4).alias("max_value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("granularity", "bucket", "event_type")


@query(
    "ts_gap_fill",
    """WITH agg AS (
         SELECT event_type, date_trunc('hour', ts) AS bucket,
                ((2 * sum(CAST(round(value * 100) AS BIGINT)) * 100
                  + count(value)) // (2 * count(value))) / 10000.0 AS v
         FROM {EV} GROUP BY event_type, bucket),
       bounds AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM agg),
       grid AS (
         SELECT t.event_type, g.bucket
         FROM (SELECT DISTINCT event_type FROM agg) t,
              (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                 AS bucket FROM bounds) g),
       j AS (SELECT grid.event_type, grid.bucket, agg.v
             FROM grid LEFT JOIN agg USING (event_type, bucket))
       SELECT event_type, bucket,
              last_value(v IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
              v IS NULL AS filled
       FROM j ORDER BY event_type, bucket""",
)
def ts_gap_fill_q(spark, sf):
    # dense hourly series per event type with forward fill: grid =
    # keys x sequence(bounds) built executor-side, fill = one ordered
    # window per key — nothing driver-side, nothing O(raw rows) after
    # the first aggregation
    ev = _t(spark, sf, "events")
    return timeseries.gap_fill(ev, "ts", ["event_type"], "value", unit="hour").orderBy(
        "event_type", "bucket"
    )


def _zorder_oracle() -> str:
    from fourmc_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(["l_partkey", "l_suppkey"], bits=11)
    return (
        f"SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zval "
        "FROM lineitem ORDER BY zval, l_orderkey, l_linenumber LIMIT 200"
    )


@query("layout_zorder_key", _zorder_oracle())
def layout_zorder_key_q(spark, sf):
    # pins the Morton interleave bit-for-bit against the oracle; the
    # clustering rewrite built on it (cluster_by_zorder) is pinned by
    # tests/test_layout.py (per-partition span shrinks on BOTH columns)
    from fourmc_spark.operators.layout import zorder_key

    return (
        _t(spark, sf, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            zorder_key(["l_partkey", "l_suppkey"], bits=11).alias("zval"),
        )
        .orderBy("zval", "l_orderkey", "l_linenumber")
        .limit(200)
    )


@query(
    "curation_chunk_documents",
    """SELECT doc_id, CAST(s // 224 AS BIGINT) AS chunk_id,
              substring(text, s + 1, 256) AS chunk_text
       FROM (SELECT doc_id, text,
                    unnest(generate_series(0, greatest(length(text) - 1, 0),
                                           224)) AS s
             FROM documents)
       ORDER BY doc_id, chunk_id""",
)
def curation_chunk_documents_q(spark, sf):
    # fixed-width overlapping chunks (256 chars, 32 overlap -> step 224):
    # map-only JVM expressions (sequence/transform/posexplode), no shuffle,
    # no Python — the pre-tokenization fan-out of an embedding pipeline
    return curation.chunk_documents(
        _t(spark, sf, "documents"), chunk_chars=256, overlap=32
    ).orderBy("doc_id", "chunk_id")


@query(
    "curation_pack_sequences",
    """WITH toks AS (
         SELECT source, doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         FROM documents),
       binned AS (
         SELECT source, doc_id, tok,
                CAST(floor((sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - tok) / 512.0) AS BIGINT) AS bin_id
         FROM toks)
       SELECT source, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(tok) AS BIGINT) AS total_tokens
       FROM binned GROUP BY source, bin_id
       ORDER BY source, bin_id""",
)
def curation_pack_sequences_q(spark, sf):
    # greedy sequential packing into 512-token training bins, keyed per
    # source: one window per group partition (groups pack in parallel —
    # no global sort), then one aggregation. Documents never split; the
    # doc crossing a boundary opens the next bin.
    return curation.pack_sequences(
        _t(spark, sf, "documents"), capacity=512, group_col="source"
    ).orderBy("source", "bin_id")


@query(
    "ts_scd2_intervals",
    """SELECT user_id, event_id, version, valid_from, valid_to, is_current
       FROM (
         SELECT user_id, event_id,
                CAST(row_number() OVER w AS BIGINT) AS version,
                ts AS valid_from, lead(ts) OVER w AS valid_to,
                lead(ts) OVER w IS NULL AS is_current
         FROM {EV} WHERE event_type = 'signup'
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       ORDER BY user_id, version""",
)
def ts_scd2_intervals_q(spark, sf):
    # CDC changelog -> SCD-type-2 validity intervals: one lead/row_number
    # window per key partition, no self-join — each signup event becomes
    # a version valid until the user's next one
    ev = _t(spark, sf, "events").where(F.col("event_type") == "signup")
    return (
        timeseries.scd2_intervals(ev, ["user_id"], "ts", order_tiebreak=["event_id"])
        .select("user_id", "event_id", "version", "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "version")
    )


@query(
    "ts_apply_changes",
    """WITH ev AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM {EV}),
snap AS (SELECT user_id, ts, event_id, value, 'upsert' AS op FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE event_id % 2 = 0) WHERE rn = 1),
merged AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM (SELECT * FROM snap UNION ALL
        SELECT user_id, ts, event_id, value, op FROM ev
        WHERE event_id % 2 = 1))
SELECT user_id, event_id AS version_event, round(value, 2) AS last_value
FROM merged WHERE rn = 1 AND op != 'delete'
ORDER BY user_id""",
)
def ts_apply_changes_q(spark, sf):
    # latest-wins CDC MERGE: even event_ids form the compacted snapshot,
    # odd ones replay as a changelog (error events = deletes). One
    # key-partitioned window over snapshot ∪ changes — no self-join; keys
    # whose newest row is a delete vanish from the new snapshot.
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    snap = (
        ev.where(F.col("event_id") % 2 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "op")
    )
    changes = ev.where(F.col("event_id") % 2 == 1)
    return (
        timeseries.apply_changes(
            snap, changes, ["user_id"], ["ts", "event_id"]
        )
        .select(
            "user_id",
            F.col("event_id").alias("version_event"),
            F.round("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )


@query(
    "embedding_label_centroids",
    """SELECT label, CAST(pos AS BIGINT) AS pos,
       round(avg(coord), 6) AS centroid, CAST(count(*) AS BIGINT) AS n
FROM (SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(embedding) AS coord
      FROM embeddings)
GROUP BY label, pos ORDER BY label, pos""",
)
def embedding_label_centroids_q(spark, sf):
    # class prototypes: per-label centroid via posexplode + one
    # partial+final hash agg on (label, pos) — the shuffle carries
    # labels x dim partially-averaged rows, never vectors.
    return similarity.label_centroids(_t(spark, sf, "embeddings"))


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled integer-exact PageRank (matches operators/graph.pagerank:
    BIGINT ranks in 1e-12 mass units, integer division everywhere)."""
    S = 1_000_000_000_000
    ctes = [
        ("e", "SELECT DISTINCT o.o_custkey AS u, l.l_suppkey + 10000000 AS v "
              "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"),
        ("deg", "SELECT u, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY u"),
        ("nodes", "SELECT u AS node FROM e UNION SELECT v FROM e"),
        ("nn", "SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes"),
        ("pr0", f"SELECT node, n_nodes, CAST({S} AS BIGINT) // n_nodes AS pr "
                "FROM nodes CROSS JOIN nn"),
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        ctes.append((
            f"pr{k}",
            f"SELECT b.node, b.n_nodes, "
            f"((CAST({S} AS BIGINT) // b.n_nodes) * 15) // 100 "
            f"+ coalesce(m.in_mass, 0) AS pr "
            f"FROM (SELECT node, n_nodes FROM {p}) b LEFT JOIN ("
            f"SELECT e.v AS node, "
            f"CAST(sum(({p}.pr * 85) // (deg.outdeg * 100)) AS BIGINT) AS in_mass "
            f"FROM e JOIN deg USING (u) JOIN {p} ON {p}.node = e.u "
            f"GROUP BY e.v) m USING (node)",
        ))
    body = ",\n".join(f"{n} AS ({q})" for n, q in ctes)
    return (
        f"WITH {body}\n"
        f"SELECT node, CAST(pr AS BIGINT) AS pr FROM pr{iters} "
        f"ORDER BY pr DESC, node LIMIT 100"
    )


@query("graph_pagerank", _pagerank_oracle())
def graph_pagerank_q(spark, sf):
    # Link-quality centrality over the customer->supplier purchase graph
    # (who buys from whom). Integer-exact fixed-iteration PageRank — the
    # iterative-dataflow shape (Pregel messages as join + hash agg), in
    # one unrolled Catalyst plan. Reference has no graph surface; this is
    # a north-star analytics addition (SURVEY.md §2.2).
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    edges = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
    )
    return (
        graph.pagerank(edges, iterations=3)
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(100)
    )


@query(
    "ts_funnel_stages",
    """WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM {EV} e
  WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (
  SELECT s1.user_id, s1.t1,
         min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
  FROM s1 LEFT JOIN (SELECT user_id, ts FROM {EV} e2
                     WHERE event_type = 'click') e USING (user_id)
  GROUP BY s1.user_id, s1.t1),
s3 AS (
  SELECT s2.user_id, s2.t1, s2.t2,
         min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
  FROM s2 LEFT JOIN (SELECT user_id, ts FROM {EV} e2
                     WHERE event_type = 'purchase') e USING (user_id)
  GROUP BY s2.user_id, s2.t1, s2.t2)
SELECT user_id, t1, t2, t3,
       CAST(CASE WHEN t2 IS NULL THEN 1 WHEN t3 IS NULL THEN 2
                 ELSE 3 END AS BIGINT) AS stage
FROM s3 ORDER BY user_id""",
)
def ts_funnel_stages_q(spark, sf):
    # Ordered funnel signup -> click -> purchase with strictly increasing
    # timestamps; every stage is a user-key join + conditional-min hash
    # agg (the frontier only shrinks; filters push to the scan).
    return (
        timeseries.funnel_stages(
            _t(spark, sf, "events"), ["signup", "click", "purchase"]
        )
        .select(F.col("user").alias("user_id"), "t1", "t2", "t3", "stage")
        .orderBy("user_id")
    )


@query(
    "text_char_entropy",
    r"""WITH c AS (
  SELECT doc_id, regexp_extract_all(text, '[\s\S]') AS cs FROM documents),
n AS (SELECT doc_id, cs, CAST(len(cs) AS DOUBLE) AS n FROM c)
SELECT doc_id,
       CAST(len(cs) AS BIGINT) AS n_chars,
       CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct_chars,
       CASE WHEN n > 0 THEN
         round(list_sum(list_transform(list_sort(list_distinct(cs)),
           c -> -(len(list_filter(cs, x -> x = c)) / n)
                * log2(len(list_filter(cs, x -> x = c)) / n))), 4)
       ELSE 0.0 END AS entropy_bits
FROM n ORDER BY doc_id""",
)
def text_char_entropy_q(spark, sf):
    return text.char_entropy(_t(spark, sf, "documents")).orderBy("doc_id")


@query(
    "dedup_global_chunks",
    """WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c0 AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(CAST(ceil(len(toks) / 10.0) AS BIGINT), 1)))
           AS pos
  FROM t),
c AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos * 10 + 1 : pos * 10 + 10], ' ') AS chunk
  FROM c0),
k AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM c)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       coalesce(string_agg(chunk, ' ' ORDER BY pos)
                  FILTER (WHERE rn = 1), '') AS cleaned_text
FROM k GROUP BY doc_id ORDER BY doc_id""",
)
def dedup_global_chunks_q(spark, sf):
    # C4-style global span dedup: every 10-token chunk survives only at
    # its first corpus occurrence; docs are rebuilt from surviving
    # chunks. Election = min(struct) hash agg + co-partitioned join (NOT
    # a corpus window) — see operators/dedup.global_chunk_dedup.
    return dedup.global_chunk_dedup(
        _t(spark, sf, "documents"), chunk_tokens=10
    ).orderBy("doc_id")


@query(
    "text_inverted_index",
    f"""WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest({tokens_duck('text')}) AS term
        FROM documents)
  GROUP BY term, doc_id)
SELECT term,
       CAST(count(*) AS BIGINT) AS docfreq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       array_to_string((list_sort(list(doc_id)))[1:20], ' ') AS postings
FROM tf GROUP BY term HAVING count(*) >= 2 ORDER BY term""",
)
def text_inverted_index_q(spark, sf):
    # Postings-list materialization (build-once-query-many retrieval
    # index); posting lists capped inside the aggregate so stop-words
    # never materialize corpus-sized rows. The operator returns a real
    # array<long> postings column; the oracle gate compares it as a
    # space-joined string so value hashing is representation-stable.
    out = text.inverted_index(_t(spark, sf, "documents"))
    return out.withColumn(
        "postings", F.array_join(F.col("postings").cast("array<string>"), " ")
    ).orderBy("term")


@query(
    "stream_dedup_ingest",
    f"""WITH sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id FROM common
  JOIN cnt na ON na.doc_id = a_id
  JOIN cnt nb ON nb.doc_id = b_id
  WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.8)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT b_id FROM pairs)
ORDER BY doc_id""",
)
def stream_dedup_ingest_q(spark, sf):
    # continuous near-dup-gated corpus ingest: the documents feed streams
    # through foreachBatch, each batch admitted against the accumulated
    # corpus snapshot (streaming/ops.dedup_ingest_stream — micro-batch
    # twin of operators/dedup.incremental_near_dedup). One sealed file =
    # one batch with an empty initial corpus, so the final snapshot must
    # equal the batch rule: admit a doc iff it near-dups no smaller-id doc.
    #
    # Oracle recall note (accepted, same convention as dedup_minhash_pairs
    # / dedup_incremental): the oracle enumerates shingle-sharing pairs
    # exhaustively while the engine gates via banded MinHash-LSH
    # candidates (k=16, 8 bands of 2 -> miss prob ~2.8e-4 per pair at
    # J=0.8, ~1e-11 at J>=0.9). Both sides are deterministic functions of
    # the fixed parquet corpus, and dedup_minhash_pairs — the SAME
    # banding against the SAME exhaustive-pairs oracle on the SAME table,
    # driver-green at sf0.01 since r01 — proves banding recovers every
    # true J>=0.8 pair on this corpus, so the gap cannot bite the gate.
    path = f"{sf}/documents.parquet"
    schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    with _scratch_dir(spark, "fourmc-ingest-") as d:
        q = dedup_ingest_stream(sdf, d).trigger(availableNow=True).start()
        q.awaitTermination()
        out = (
            read_dedup_state(spark, d)
            .select("doc_id", "source")
            .orderBy("doc_id")
        )
        return _detach(out)


@query(
    "stream_cdc_apply",
    """WITH ev AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM {EV}),
m AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev)
SELECT user_id, event_id AS version_event, round(value, 2) AS last_value
FROM m WHERE rn = 1 AND op != 'delete' ORDER BY user_id""",
)
def stream_cdc_apply_q(spark, sf):
    # streaming latest-wins CDC apply: the events changelog streams into
    # a versioned keyed snapshot via foreachBatch (tombstones retained so
    # late upserts cannot resurrect newer deletes); the final snapshot
    # must equal the batch latest-per-key election
    # (streaming/ops.cdc_apply_stream — micro-batch twin of
    # operators/timeseries.apply_changes).
    ev = read_events_stream(spark, f"{sf}/events.parquet").select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with _scratch_dir(spark, "fourmc-cdc-") as d:
        q = (
            cdc_apply_stream(ev, d, ["user_id"], ["ts", "event_id"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            read_cdc_state(spark, d)
            .select(
                "user_id",
                F.col("event_id").alias("version_event"),
                F.round("value", 2).alias("last_value"),
            )
            .orderBy("user_id")
        )
        # materialize before the state dir disappears (bounded detach)
        return _detach(out)


@query(
    "stream_4mc_tumbling",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
       FROM {EV} GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_4mc_tumbling_q(spark, sf):
    # The 4mc STREAMING SOURCE inside the oracle gate: events are
    # re-encoded as JSON lines in sealed .4mz files, streamed back
    # through spark.readStream.format("fourmc") (sealed-by-footer files
    # = micro-batches), parsed with from_json, and windowed — the result
    # must equal the batch oracle exactly, proving the stream source
    # loses/duplicates nothing and the whole JSON+timestamp round trip
    # is value-exact.
    with _scratch_dir(spark, "fourmc-stream4mc-") as d:
        _stage_events_4mz(spark, sf, d, n_files=3)
        sdf = _events_json_stream(spark, d)
        out = _run_stream(
            tumbling_counts(sdf, window="1 hour"), src=d
        ).orderBy("win_start", "event_type")
        return _detach(out)


@query(
    "sql_4mc_sinkstats_scan",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 400 AND 1599
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_sinkstats_scan_q(spark, sf):
    # Zone maps at WRITE time (round 9): the sink's statsschema option
    # computes each sealed file's min/max from the exact rows it
    # receives and seals the sidecar with the file — fresh ingest
    # prunes immediately, no ANALYZE pass at all. Construction mirrors
    # sql_4mc_zonemap_scan minus analyze_stats: events write id-sorted
    # into 6 files WITH statsschema, a poison file (garbage bytes +
    # valid out-of-range sidecar) is planted, and the range query must
    # both hash-match the batch oracle (sink-computed stats that were
    # too NARROW would prune real rows and break the hash) and survive
    # the poison (proving pruning engaged before any footer read).
    with _scratch_dir(spark, "fourmc-sinkstats-") as d:
        _save(_lines(_id_ranges(spark, sf, 6)), d, statsschema=_EV_DDL)
        _plant_poison(d)
        back = _scan(spark, d).where(F.col("event_id").between(400, 1599))
        return _detach(_event_totals(back))


@query(
    "sql_4mc_zonemap_ts_scan",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV} ev
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         AND ts <  TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_zonemap_ts_scan_q(spark, sf):
    # TEMPORAL zone maps under the driver hash gate (round 10): time is
    # THE clustering key for sealed logs, and until this round a
    # `ts BETWEEN` predicate pruned nothing (the r9 pushdown kept only
    # number/string bounds). Now analyze_stats records TimestampType
    # min/max as EPOCH MICROS (computed JVM-side via unix_micros, so
    # the sidecar is session-timezone-free), and the typed scan's
    # pushdown canonicalizes the tz-aware instant filter values that
    # VariantVal delivers to the same micros before comparing — a range
    # on `ts` prunes whole files exactly like an id range.
    #
    # Same in-gate poison proof as sql_4mc_zonemap_scan: a garbage file
    # with a valid, size-matching sidecar whose ts range lives in 2030
    # is planted after ANALYZE; planning that ever opened it would
    # throw, so the gate is green iff temporal pruning engaged before
    # any footer read. ts serializes at FULL microsecond precision
    # (date_format pattern, not to_json's millis default) so the
    # typed-scan values hash-match the parquet oracle exactly.
    ddl = ("ts timestamp, event_id bigint, user_id bigint, "
           "event_type string, value double")
    with _scratch_dir(spark, "fourmc-zonemap-ts-") as d:
        ev = _range_partition_fixture(
            _events(spark, sf, _ts_text(), *_EV_COLS),
            6, "ts", f"{sf}/events.parquet",
            # the frame carries ts as a FORMATTED STRING; bucket on
            # its instant micros (exact integer math), bounds from
            # the footer's timestamp stats. Non-UTC parse would
            # only shift bucket edges, never results.
            key=F.unix_micros(F.to_timestamp("ts")),
        )
        _save(_lines(ev), d)
        analyze_stats(spark, d, ddl)
        _plant_poison(d, columns={
            # 2030-01-01 .. 2030-01-02 as epoch micros:
            # disjoint from the Jan-2024 predicate window
            "ts": {
                "min": 1893456000000000,
                "max": 1893542400000000,
                "nulls": 0,
            }
        })
        back = (
            spark.read.format("fourmc")
            .option("jsonschema", ddl).load(d)
            .where(
                (F.col("ts") >= "2024-01-10 00:00:00")
                & (F.col("ts") < "2024-01-20 00:00:00")
            )
        )
        return _detach(_event_totals(back))


@query(
    "maintenance_compact_zonemap",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 2000 AND 3599
       GROUP BY event_type ORDER BY event_type""",
)
def maintenance_compact_zonemap_q(spark, sf):
    # The full sealed-log LIFECYCLE under one hash gate (round 9):
    # ingest (6 id-sorted small files) -> ANALYZE (two-tier zone maps)
    # -> compact_blocks (raw copy CARRIES the zone maps: block entries
    # remap to output offsets, file tiers merge, seam blocks dropped)
    # -> range query over the COMPACTED tree through the typed scan,
    # pruned by the CARRIED sidecars with no re-ANALYZE. The oracle is
    # the plain batch query over events, so a carried entry that is too
    # narrow at a concatenation seam (a lost first-line), a mis-remapped
    # block offset, or an over-merged file tier breaks the hash. A
    # poison file (garbage bytes + valid out-of-range sidecar) planted
    # in the compacted dir proves file-tier pruning engages end-to-end.
    with _scratch_dir(spark, "fourmc-compact-zm-") as root:
        staged, out = f"{root}/staged", f"{root}/compact"
        ev = _id_ranges(spark, sf, 6).sortWithinPartitions("event_id")
        _save(_lines(ev), staged, blocksize=16 * 1024)
        analyze_stats(spark, staged, _EV_DDL)
        stats = _compact(spark, staged, out, 2)
        assert stats["stats_carried"] == stats["outputs"], stats
        _plant_poison(out)
        back = _scan(spark, out).where(F.col("event_id").between(2000, 3599))
        return _detach(_event_totals(back))


@query(
    "sql_4mc_bloom_scan",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
              CAST(user_id AS BIGINT) AS user_id,
              event_type, value
       FROM events WHERE event_id IN (3, 17, 411, 888)
       ORDER BY event_id""",
)
def sql_4mc_bloom_scan_q(spark, sf):
    # BLOOM-SIDECAR point-lookup pruning under the driver hash gate
    # (round 10): zone maps prune by [min, max] — decisive on the
    # clustering key and useless on everything else. Here events are
    # written UNCLUSTERED (hash repartition: every file's event_id span
    # covers the whole domain, so the zone tier keeps all of them) and
    # analyze_bloom() seals a per-file bloom bitmap; the typed scan's
    # pushdown turns the IN-list into point probes (xxhash64 of the
    # value's canonical text, k bit tests per file — no data I/O) and
    # drops every file whose bloom proves all probed ids absent. That
    # is the parquet-bloom/Iceberg point-lookup economics for sealed
    # logs: at 100 TB an id lookup opens ~1 file instead of all of
    # them, false positives only cost a scan the re-applied filter
    # empties.
    #
    # The pruning is PROVEN in-gate: a poison file of garbage bytes
    # carries a valid, size-matching sidecar whose bloom bitmap is ALL
    # ZERO under the real contract tag — every probe tests negative,
    # so planning must drop it before any footer read or the gate goes
    # red. Conservative-safety twins (missing/foreign-tagged blooms
    # never prune; type-mismatched values never prune) live in
    # tests/test_bloom.py.
    bits, k = 1 << 18, 6
    with _scratch_dir(spark, "fourmc-bloom-") as d:
        # UNCLUSTERED: zone maps cannot prune this
        _save(_lines(_events(spark, sf).repartition(6)), d)
        analyze_bloom(spark, d, _EV_DDL, ["event_id"], bits=bits, k=k)
        _plant_poison(d, bloom=(bits, k))
        return _detach(_event_rows(_scan(spark, d), [3, 17, 411, 888]))


@query(
    "sql_4mc_csv_zonemap_scan",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 1100 AND 2699
       GROUP BY event_type ORDER BY event_type""",
)
def sql_4mc_csv_zonemap_scan_q(spark, sf):
    # The typed-pruning tier on CSV lines (round 10): csvschema is the
    # second record model to get the full sidecar surface — the scan
    # parses value lines with Arrow's CSV kernels (positional DDL,
    # from_csv-matching conventions: backslash escapes, empty field =
    # NULL, quoted "" also NULL, Z-suffixed timestamps), which makes
    # value predicates pushable, and analyze_stats(record_format='csv')
    # seals the same two-tier zone maps the NDJSON tier prunes with.
    # Same in-gate poison proof: a garbage container with a valid
    # out-of-range sidecar is planted — green iff file pruning engaged
    # before any footer read.
    with _scratch_dir(spark, "fourmc-csv-zm-") as d:
        _save(_lines(_id_ranges(spark, sf, 6), F.to_csv), d)
        analyze_stats(spark, d, _EV_DDL, record_format="csv")
        _plant_poison(d)
        back = _scan(spark, d, "csv").where(
            F.col("event_id").between(1100, 2699)
        )
        return _detach(_event_totals(back))


@query(
    "sql_4mc_bloom_blocks_scan",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
              CAST(user_id AS BIGINT) AS user_id,
              event_type, value
       FROM events WHERE event_id IN (21, 433, 777)
       ORDER BY event_id""",
)
def sql_4mc_bloom_blocks_scan_q(spark, sf):
    # BLOCK-tier blooms under the driver hash gate (round 10): events
    # land as ONE sealed file of many small blocks — the file tier
    # cannot shrink anything — and analyze_bloom's block_bits seals a
    # per-block bitmap keyed by the owning block's compressed offset.
    # The planner drops every block whose bitmap proves all probed ids
    # absent; dropping a block removes exactly the lines it OWNS
    # (split spillover completes a line that starts in a kept
    # partition), so the oracle hash pins BOTH ownership seams across
    # many block boundaries on an UNCLUSTERED layout — the
    # parquet-page economics for point lookups, no clustering needed.
    with _scratch_dir(spark, "fourmc-bloom-blocks-") as d:
        _save(_lines(_events(spark, sf).coalesce(1)), d, blocksize=16 * 1024)
        analyze_bloom(
            spark, d, _EV_DDL, ["event_id"],
            bits=1 << 16, k=5, block_bits=1 << 12, block_k=4,
        )
        return _detach(_event_rows(_scan(spark, d), [21, 433, 777]))


@query(
    "maintenance_compact_bloom",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
              CAST(user_id AS BIGINT) AS user_id,
              event_type, value
       FROM events WHERE event_id IN (5, 240, 777)
       ORDER BY event_id""",
)
def maintenance_compact_bloom_q(spark, sf):
    # Bloom sidecars survive COMPACTION without re-hashing (round 10):
    # ingest (6 unclustered small files) -> analyze_bloom -> raw
    # block-copy compaction, whose sidecar carry OR-merges the inputs'
    # bitmaps (bloom of a union IS the bitwise OR — exact, unlike the
    # seam-lossy zone-map carry) -> point-IN query over the COMPACTED
    # tree, pruned by the carried blooms with no re-ANALYZE. The oracle
    # is the plain batch query over events, so an OR-merge that lost a
    # bit (false absence) would lose a row and break the hash; a poison
    # file planted in the compacted dir (garbage bytes + all-zero
    # bloom) proves the probe path engages before any footer read.
    bits, k = 1 << 18, 6
    with _scratch_dir(spark, "fourmc-compact-bloom-") as root:
        staged, out = f"{root}/staged", f"{root}/compact"
        _save(_lines(_events(spark, sf).repartition(6)), staged)
        analyze_bloom(spark, staged, _EV_DDL, ["event_id"], bits=bits, k=k)
        stats = _compact(spark, staged, out, 2)
        assert stats["stats_carried"] == stats["outputs"], stats
        _plant_poison(out, bloom=(bits, k))
        return _detach(_event_rows(_scan(spark, out), [5, 240, 777]))


@query(
    "stream_4mc_multibatch",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
       FROM {EV} GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_4mc_multibatch_q(spark, sf):
    # Multi-micro-batch exactly-once through the 4mc STREAM SOURCE:
    # stream_4mc_tumbling drains its sealed files in ONE batch, so the
    # seen-files offset chain across MANY commits was never under the
    # hash gate. Here events land in 6 sealed .4mz files, ONE of which
    # seeds the stream (the first offset is unbounded by offset-chain
    # design — sources/stream.py invariant note) while the other five
    # arrive AFTER the first drain and trickle in under
    # maxfilespertrigger=1, one file per micro-batch through
    # latestOffset -> plan -> commit. The complete-mode windowed
    # aggregate must equal the batch oracle exactly — a file dropped,
    # re-ingested, or resumed mid-block across a batch boundary breaks
    # the hash. (Python stream sources fall back to one batch under
    # Trigger.AvailableNow, so this drains via processAllAvailable; the
    # >=6-batch structure itself is pinned in
    # tests/test_streaming.py::test_stream_4mc_multibatch_takes_n_batches.)
    with _scratch_dir(spark, "fourmc-stream-mb-") as root:
        staged, live = f"{root}/staged", f"{root}/live"
        _stage_events_4mz(spark, sf, staged, n_files=6)
        files = sorted(glob.glob(f"{staged}/part-*.4mz"))
        os.makedirs(live)
        os.rename(files[0], f"{live}/{os.path.basename(files[0])}")
        sdf = _events_json_stream(spark, live, maxfilespertrigger=1)
        name = f"qstream_{uuid.uuid4().hex[:12]}"
        q = (
            tumbling_counts(sdf, window="1 hour")
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").start()
        )
        try:
            q.processAllAvailable()  # batch 0: the seed file
            for f in files[1:]:  # late arrivals: sealed files appear
                os.rename(f, f"{live}/{os.path.basename(f)}")
            q.processAllAvailable()  # one micro-batch per late file
        finally:
            q.stop()
            q.awaitTermination()
        out = spark.table(name).orderBy("win_start", "event_type")
        return _detach(out)


@query(
    "maintenance_compact_4mc",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV} GROUP BY event_type ORDER BY event_type""",
)
def maintenance_compact_4mc_q(spark, sf):
    # Small-file COMPACTION under the hash gate (operators/maintenance.py):
    # events
    # land as JSON lines in 24 small sealed .4mz files (the streaming
    # sink's long-run accumulation shape), compact_blocks raw-copies their
    # blocks into ~3 large sealed containers (no recompression — block
    # payloads move verbatim, only header/EOS/footer are rewritten; one
    # Spark task per output, planned from footer-only preads), and the
    # aggregate over the COMPACTED tree must equal the batch oracle over
    # the original events exactly — a block dropped, reordered across a
    # bin boundary, or a glued line at an unterminated file seam breaks
    # the hash. Structural pins (output count, block arithmetic, CLI
    # seal verification) live in tests/test_maintenance.py.
    with _scratch_dir(spark, "fourmc-compact-") as root:
        staged, out = f"{root}/staged", f"{root}/compact"
        _stage_events_4mz(spark, sf, staged, n_files=24)
        _compact(spark, staged, out, 3)
        back = _from_json(spark.read.format("fourmc").load(out))
        return _detach(_event_totals(back))


@query(
    "stream_4mc_ordered_multibatch",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
       FROM {EV} GROUP BY 1, 2 ORDER BY 1, 2""",
)
def stream_4mc_ordered_multibatch_q(spark, sf):
    # The orderednames O(1) offset mode under the hash gate, fed by its
    # qualifying producer: a PRODUCER streaming pipeline (4mc stream
    # source, default seen-set mode -> 4mc streaming sink with hive
    # ``partitionby``) seals files whose deterministic
    # part-b{batchId}-{task}-{file} basenames ascend across micro-batches
    # (sources/stream.py FourMcStreamWriter.commit); a CONSUMER stream
    # reads that tree back with orderednames=true + maxfilespertrigger=1,
    # so its checkpointed offset is a single basename high-water mark
    # (O(1) vs the seen-set's O(total files ever) — the 100 TB offset
    # path) and the steady-state drain takes ONE file per micro-batch
    # through latestOffset -> partitions -> commit across many commits.
    # Events are fed to the producer one sealed file at a time, so sink
    # batchIds genuinely increment and late files land ABOVE the mark in
    # every hive partition dir (basename ordering ignores directories —
    # the composition pinned in tests/test_streaming.py's
    # partitionby+orderednames test). The complete-mode windowed
    # aggregate must equal the batch oracle exactly: a file skipped below
    # the mark, double-ingested on hwm regression, or split across a
    # batch boundary breaks the hash.
    with _scratch_dir(spark, "fourmc-stream-omb-") as root:
        staged, live_in = f"{root}/staged", f"{root}/in"
        sink_out, ckpt = f"{root}/out", f"{root}/ckpt"
        _stage_events_4mz(spark, sf, staged, n_files=4)
        files = sorted(glob.glob(f"{staged}/part-*.4mz"))
        os.makedirs(live_in)
        os.makedirs(sink_out)
        os.rename(files[0], f"{live_in}/{os.path.basename(files[0])}")
        # producer: one fed file per processAllAvailable drain = one sink
        # micro-batch; the hive column is payload-derived (so it is
        # redundant with the JSON the consumer parses) and kept at
        # 2 buckets — files per sink batch = tasks x buckets, and every
        # extra file is one more ~6 s stock-session consumer trigger
        # under maxfilespertrigger=1
        psrc = spark.readStream.format("fourmc").load(live_in).select(
            "value",
            (F.get_json_object("value", "$.user_id").cast("long") % 2)
            .cast("string").alias("bucket"),
        )
        prod = (
            psrc.writeStream.format("fourmc")
            .option("codec", "zstd").option("level", "fast")
            .option("partitionby", "bucket")
            .option("path", sink_out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        name = f"qstream_{uuid.uuid4().hex[:12]}"
        cons = None
        try:
            prod.processAllAvailable()  # sink batch 0 (part-b0000000000-…)
            sdf = _events_json_stream(
                spark, sink_out, orderednames="true", maxfilespertrigger=1
            )
            cons = (
                tumbling_counts(sdf, window="1 hour")
                .writeStream.format("memory").queryName(name)
                .outputMode("complete").start()
            )
            cons.processAllAvailable()  # catch-up: all batch-0 files
            for f in files[1:]:
                os.rename(f, f"{live_in}/{os.path.basename(f)}")
                prod.processAllAvailable()  # sink batch N, names above hwm
            # one barrier drains every late file, still ONE per trigger
            # under the cap (the engine triggers continuously; the
            # per-feed barriers only added stock-session latency)
            cons.processAllAvailable()
        finally:
            if cons is not None:
                cons.stop()
                cons.awaitTermination()
            prod.stop()
            prod.awaitTermination()
        out = spark.table(name).orderBy("win_start", "event_type")
        return _detach(out)


@query(
    "stream_4mc_sink",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM {EV} GROUP BY event_type ORDER BY event_type""",
)
def stream_4mc_sink_q(spark, sf):
    # The 4mc STREAMING SINK inside the oracle gate (round-8 stretch;
    # sink twin of stream_4mc_tumbling's source certification): events
    # stream from parquet through writeStream.format("fourmc") into
    # sealed .4mz files (per-task seal, staged rename on commit,
    # batch-scoped idempotence — sources/stream.FourMcStreamWriter;
    # reference K1 semantics: header/blocks/EOS/footer per sealed file,
    # FourMcOutputStream.java), then the sealed files are batch-read
    # back through the fourmc scan, JSON-parsed, and aggregated.
    # Equality with the batch oracle proves the sink sealed EVERY input
    # row exactly once and every block checksum + footer survived the
    # stream->batch round trip. The CLI leg
    # (tests/test_reference_cli_compat.py::test_reference_cli_verifies_stream_sink_files)
    # additionally verifies the sealed files with the reference's
    # prebuilt binary. Scale shape: one sealed file per task per
    # micro-batch, no driver data path; ts stays out of the payload
    # (the aggregate doesn't need it), so no timezone rendering.
    with _scratch_dir(spark, "fourmc-stream-sink-") as d:
        out_dir = _stream_events(spark, sf, d)
        back = _from_json(spark.read.format("fourmc").load(out_dir), _EV_DDL)
        return _detach(_event_totals(back))


@query(
    "stream_4mc_sinkstats_scan",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS user_sum,
              round(sum(value), 2) AS value_sum,
              CAST(min(event_id) AS BIGINT) AS min_event,
              CAST(max(event_id) AS BIGINT) AS max_event
       FROM events WHERE event_id BETWEEN 600 AND 2399
       GROUP BY event_type ORDER BY event_type""",
)
def stream_4mc_sinkstats_scan_q(spark, sf):
    # Write-time zone maps on the STREAMING sink (round 10): the
    # statsschema sidecars ride the stream commit's deterministic
    # renames (sources/stream.py), so a live stream's output prunes
    # range queries IMMEDIATELY — no ANALYZE pass between ingest and
    # query. Twin of stream_4mc_sink plus the sql_4mc_sinkstats_scan
    # poison proof: events stream through writeStream.format("fourmc")
    # with .option("statsschema", ddl), then a garbage file with a
    # valid out-of-range sidecar is planted and the typed scan's range
    # query must both hash-match the batch oracle (stream-computed
    # stats too narrow would prune real rows) and survive the poison
    # (pruning engaged before any footer read). Each micro-batch task
    # seals its own sidecar executor-side — at 100 TB of daily ingest
    # the stats tier costs one Arrow parse per written batch, no
    # second pass over the data, and the driver never sees a row.
    with _scratch_dir(spark, "fourmc-stream-sinkstats-") as d:
        out_dir = _stream_events(spark, sf, d, statsschema=_EV_DDL)
        _plant_poison(out_dir)
        back = _scan(spark, out_dir).where(
            F.col("event_id").between(600, 2399)
        )
        return _detach(_event_totals(back))


@query(
    "stream_4mc_bloomsink_scan",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
              CAST(user_id AS BIGINT) AS user_id,
              event_type, value
       FROM events WHERE event_id IN (7, 133, 501, 952)
       ORDER BY event_id""",
)
def stream_4mc_bloomsink_scan_q(spark, sf):
    # Write-time BLOOMS on the STREAMING sink (round 10): with
    # .option("bloomcolumns", "event_id") riding statsschema, every
    # sealed micro-batch file carries a bloom bitmap built from the
    # exact distinct values it received (Arrow-dedup per batch, XXH64
    # under the shared contract) — a live sealed log answers POINT
    # lookups immediately, no ANALYZE job ever. The poison proof is the
    # all-zero-bloom garbage file; the batch oracle proves the
    # stream-computed bitmaps lost no value (a dropped bit would prune
    # a real row and break the hash). Combined with the statsschema
    # zone tier and compaction's OR-merge carry, the steady-state
    # pipeline prunes ranges AND point probes from ingest onward.
    bits, k = 1 << 18, 6
    with _scratch_dir(spark, "fourmc-stream-bloomsink-") as d:
        out_dir = _stream_events(
            spark, sf, d, statsschema=_EV_DDL, bloomcolumns="event_id",
            bloombits=str(bits), bloomk=str(k),
        )
        _plant_poison(out_dir, bloom=(bits, k))
        return _detach(
            _event_rows(_scan(spark, out_dir), [7, 133, 501, 952])
        )


_PROFILE_COLS = ["doc_id", "lang", "n_chars", "source", "text"]
_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) - count({c}) AS BIGINT) AS n_null,
        CAST(count(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT) AS n_distinct,
        min(CAST({c} AS VARCHAR)) AS min_value,
        max(CAST({c} AS VARCHAR)) AS max_value
        FROM documents"""
    for c in _PROFILE_COLS
)


@query(
    "stats_profile_table",
    f'SELECT * FROM ({_PROFILE_ORACLE}) ORDER BY "column"',
)
def stats_profile_table_q(spark, sf):
    # per-column data-quality profile in ONE pass (wide partial+final
    # agg + stack unpivot — no per-column jobs); string-typed min/max so
    # every column shares the output schema. Columns restricted to
    # string/integer types whose string rendering is engine-identical.
    return stats.profile_table(
        _t(spark, sf, "documents"), cols=_PROFILE_COLS
    ).orderBy("column")


@query(
    "curation_fixed_k_sample",
    """WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id)
           AS rk
  FROM documents)
SELECT doc_id, source, n_chars FROM r WHERE rk <= 25 ORDER BY doc_id""",
)
def curation_fixed_k_sample_q(spark, sf):
    # exactly-k-per-source deterministic sample (eval-set construction):
    # hash-priority rank inside each source, stable under re-partitioning
    # and corpus growth (operators/sampling.fixed_k_sample).
    return sampling.fixed_k_sample(
        _t(spark, sf, "documents").select("doc_id", "source", "n_chars"),
        "source", ["doc_id"], k=25,
    ).orderBy("doc_id")


@query(
    "curation_token_budget",
    f"""WITH d AS (
  SELECT doc_id, source,
         CAST(len({tokens_duck('text')}) AS BIGINT) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
  FROM documents),
h AS (SELECT source, bucket, sum(n_tokens) AS btok
      FROM d GROUP BY source, bucket),
c AS (SELECT source, bucket,
             sum(btok) OVER (PARTITION BY source ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h),
cut AS (SELECT source, max(bucket) AS cut_bucket
        FROM c WHERE cum <= 20000 GROUP BY source)
SELECT d.doc_id, d.source, d.n_tokens, d.bucket
FROM d JOIN cut ON d.source = cut.source
WHERE d.bucket <= cut.cut_bucket
ORDER BY d.doc_id""",
)
def curation_token_budget_q(spark, sf):
    # Token-budget (not row-budget) per-source selection — hash-priority
    # prefix at 16-bit bucket granularity; the corpus is filtered
    # map-side against broadcast cutoffs, never sorted or shuffled
    # (operators/curation.token_budget_select).
    return curation.token_budget_select(
        _t(spark, sf, "documents"), budget_tokens=20000
    ).orderBy("doc_id")


@query(
    "embedding_assign_centroid",
    """WITH c AS (
  SELECT label AS clabel, pos, round(avg(coord), 6) AS centroid
  FROM (SELECT label,
               unnest(range(0, len(embedding))) AS pos,
               unnest(embedding) AS coord
        FROM embeddings)
  GROUP BY label, pos),
ca AS (SELECT clabel, list(centroid ORDER BY pos) AS cvec
       FROM c GROUP BY clabel),
s AS (
  SELECT e.vec_id, CAST(e.label AS BIGINT) AS true_label,
         CAST(ca.clabel AS BIGINT) AS cand_label,
         round(list_sum(list_transform(range(1, len(ca.cvec) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - ca.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - ca.cvec[i]))), 6)
           AS dist2
  FROM embeddings e, ca),
b AS (
  SELECT vec_id, true_label, cand_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2, cand_label) AS rn
  FROM s)
SELECT true_label, cand_label AS assigned_label,
       CAST(count(*) AS BIGINT) AS n
FROM b WHERE rn = 1
GROUP BY true_label, cand_label
ORDER BY true_label, assigned_label""",
)
def embedding_assign_centroid_q(spark, sf):
    # Nearest-centroid auto-labeling audit: broadcast label prototypes,
    # map-side squared-L2 scoring in index order, per-vector argmin,
    # labels^2-row confusion matrix (operators/similarity.
    # assign_to_centroids).
    return similarity.assign_to_centroids(_t(spark, sf, "embeddings")).orderBy(
        "true_label", "assigned_label"
    )


# Register the classic TPC-H suite (adapted shapes Q2-Q22; Q1/Q5 live
# above as q04/q08). Import is at module end so tpch.py can use the
# @query decorator without a circular-import dance.
from fourmc_spark import tpch  # noqa: E402,F401  (registration side effect)
