"""Pins for the r11 deterministic range partitioner behind the
lifecycle fixture writes (queries._range_partition_fixture): the
sampling-free replacement for repartitionByRange must (a) agree with
Spark's own Murmur3 hash — the probe-value trick routes buckets to
partitions through HashPartitioning, so silent hash drift against a
future Spark would quietly degrade fixture layout — and (b) actually
produce the range-disjoint n-partition layout the zone-map demos rely
on. Results are layout-invariant either way (oracle-pinned); these
tests keep the LAYOUT claim honest."""

import pytest

from pyspark.sql import functions as F


def test_murmur3_hash_long_matches_spark(spark):
    from fourmc_spark.queries import _murmur3_hash_long

    vals = [0, 1, 2, 5, 42, -1, -7, 2**33, -(2**40), 2**62, -(2**62)]
    got = spark.createDataFrame(
        [(v,) for v in vals], "v long"
    ).select(F.hash("v").alias("h")).collect()
    for v, row in zip(vals, got):
        assert _murmur3_hash_long(v) == row["h"], v


def test_partition_probe_values_cover_all_classes(spark):
    from fourmc_spark.queries import _partition_probe_values

    for n in (2, 3, 6, 8):
        probes = _partition_probe_values(n)
        assert len(probes) == n
        # each probe must land in its own pmod class under SPARK's hash
        classes = [
            r["p"]
            for r in spark.createDataFrame(
                [(p,) for p in probes], "v long"
            ).select(F.pmod(F.hash("v"), F.lit(n)).alias("p")).collect()
        ]
        assert sorted(classes) == list(range(n))


def test_det_range_shuffle_is_range_disjoint(spark):
    from fourmc_spark.queries import _det_range_shuffle

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    parts = (
        _det_range_shuffle(df, 6, F.col("k"), 0, 999)
        .select("k", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
             F.count("*").alias("n"))
        .collect()
    )
    assert len(parts) == 6
    assert sum(r["n"] for r in parts) == 1000
    spans = sorted((r["lo"], r["hi"]) for r in parts)
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi < blo  # disjoint, contiguous ranges
    # deterministic: same input -> same per-partition spans, twice
    again = sorted(
        (r["lo"], r["hi"])
        for r in _det_range_shuffle(df, 6, F.col("k"), 0, 999)
        .select("k", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert again == spans


def test_parquet_col_minmax_reads_footer(tmp_path, spark, sf_dir):
    from fourmc_spark.queries import _parquet_col_minmax

    got = _parquet_col_minmax(f"{sf_dir}/events.parquet", "event_id")
    assert got is not None
    lo, hi = got
    real = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.min("event_id"), F.max("event_id")
    ).first()
    assert (lo, hi) == (real[0], real[1])
    # timestamp column comes back as epoch micros
    ts = _parquet_col_minmax(f"{sf_dir}/events.parquet", "ts")
    if ts is not None:  # nanos-era fixtures store int64 (also ints: ok)
        assert isinstance(ts[0], int) and ts[0] <= ts[1]
    # unknown column / bad path fall back safely
    assert _parquet_col_minmax(f"{sf_dir}/events.parquet", "nope") is None
    assert _parquet_col_minmax(str(tmp_path / "missing.parquet"), "x") is None


def test_parquet_col_minmax_out_of_scope_types_fall_back(tmp_path):
    """Float and string statistics over several row groups return None
    (the sampling fallback) instead of raising TypeError from a min/max
    over unconverted values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fourmc_spark.queries import _parquet_col_minmax

    p = str(tmp_path / "mixed.parquet")
    pq.write_table(
        pa.table({
            "f": [0.5 * i for i in range(30)],
            "s": [f"k{i:03d}" for i in range(30)],
            "i": list(range(30)),
        }),
        p,
        row_group_size=10,
    )
    assert pq.ParquetFile(p).metadata.num_row_groups == 3
    assert _parquet_col_minmax(p, "f") is None
    assert _parquet_col_minmax(p, "s") is None
    assert _parquet_col_minmax(p, "i") == (0, 29)


def test_range_partition_fixture_falls_back_without_stats(spark, tmp_path):
    """Bounds unavailable -> the sampled repartitionByRange path, which
    still yields a correct (just sampled) range layout."""
    from fourmc_spark.queries import _range_partition_fixture

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    out = _range_partition_fixture(
        df, 4, "k", str(tmp_path / "does-not-exist.parquet")
    )
    assert out.count() == 100
