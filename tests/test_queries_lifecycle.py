"""Pins for the r11 deterministic range partitioner behind the
lifecycle fixture writes (queries._range_partition_fixture): the
sampling-free replacement for repartitionByRange must (a) agree with
Spark's own Murmur3 hash — the probe-value trick routes buckets to
partitions through HashPartitioning, so silent hash drift against a
future Spark would quietly degrade fixture layout — and (b) actually
produce the range-disjoint n-partition layout the zone-map demos rely
on. Results are layout-invariant either way (oracle-pinned); these
tests keep the LAYOUT claim honest.

Also pins the shared lifecycle steps every such query runs through:
the poison planter behind the in-gate pruning proofs must really
poison, and the scratch dir must never outlive the query."""

import datetime as dt
import os

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


# ---------------------------------------------------------------------
# Shared lifecycle steps: the poison planter behind the in-gate pruning
# proofs and the scratch dir every lifecycle query stages into
# ---------------------------------------------------------------------

_TS_DDL = ("ts timestamp, event_id bigint, user_id bigint, "
           "event_type string, value double")
_TS_POISON = {"ts": {"min": 1893456000000000, "max": 1893542400000000,
                     "nulls": 0}}


def _poison_cases():
    from pyspark.sql.datasource import (
        GreaterThanOrEqual, In, LessThan, LessThanOrEqual,
    )

    ids = [GreaterThanOrEqual(("event_id",), 1200),
           LessThanOrEqual(("event_id",), 2799)]
    probes = [In(("event_id",), (3, 17, 411, 888))]
    # aware-UTC bounds: what VariantVal.toPython yields for TimestampType
    utc = dt.timezone.utc
    ts = [GreaterThanOrEqual(("ts",), dt.datetime(2024, 1, 10, tzinfo=utc)),
          LessThan(("ts",), dt.datetime(2024, 1, 20, tzinfo=utc))]
    bloom = (1 << 18, 6)
    return [
        pytest.param("json", {}, ids, id="zone"),
        pytest.param("json", {"version": 1}, ids, id="zone-v1"),
        pytest.param("ts", {"columns": _TS_POISON}, ts, id="zone-ts"),
        pytest.param("json", {"bloom": bloom}, probes, id="bloom"),
        pytest.param("proto", {}, ids, id="proto-zone"),
        pytest.param("proto", {"bloom": bloom}, probes, id="proto-bloom"),
    ]


def _poison_reader(model: str, d: str):
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.queries import _EV_DDL, _EV_PROTO_JSON
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )
    from fourmc_spark.sources.protobuf import FourMcProtoReader

    if model == "proto":
        opts = CaseInsensitiveDict({"path": d, "fields": _EV_PROTO_JSON})
        return FourMcProtoReader(opts, _parse_flat_ddl(_EV_DDL))
    ddl = _TS_DDL if model == "ts" else _EV_DDL
    opts = CaseInsensitiveDict({"path": d, "jsonschema": ddl})
    return FourMcDataSourceReader(opts, _parse_flat_ddl(ddl))


@pytest.mark.parametrize("model, kw, filters", _poison_cases())
def test_plant_poison_really_poisons(spark, tmp_path, model, kw, filters):
    """A directory holding only the planted poison file: an unpredicated
    read fails loudly (the planner opens the garbage container), and the
    predicate its sidecar excludes plans zero slices. Both halves are
    what the lifecycle queries' in-gate pruning proofs rely on."""
    from fourmc_spark.format.core import BadHeaderError
    from fourmc_spark.queries import _plant_poison, _scan
    from fourmc_spark.sources.datasource import iter_slices

    d = str(tmp_path / "poisoned")
    os.makedirs(d)
    _plant_poison(d, **kw)
    assert sorted(os.listdir(d)) == ["poison.4mz", "poison.4mz.stats.json"]

    with pytest.raises(BadHeaderError):
        _poison_reader(model, d).partitions()
    scan = (_scan(spark, d, model) if model != "ts" else
            spark.read.format("fourmc").option("jsonschema", _TS_DDL).load(d))
    with pytest.raises(Exception, match="BadHeaderError"):
        scan.count()

    rd = _poison_reader(model, d)
    list(rd.pushFilters(filters))  # value filters come back: re-applied
    assert list(iter_slices(rd.partitions())) == []


def test_scratch_dir_removed_on_return_and_on_raise(spark):
    from fourmc_spark.queries import _scratch_dir

    with _scratch_dir(spark, "fourmc-scratch-test-") as d:
        with open(os.path.join(d, "f"), "w") as f:
            f.write("x")
        assert os.path.isdir(d)
    assert not os.path.exists(d)

    with pytest.raises(RuntimeError, match="body failed"):
        with _scratch_dir(spark, "fourmc-scratch-test-") as d2:
            os.makedirs(os.path.join(d2, "nested"))
            raise RuntimeError("body failed")
    assert not os.path.exists(d2)


def test_lifecycle_query_leaves_no_scratch(spark, sf_dir, tmp_path,
                                           monkeypatch):
    """A lifecycle query stages, poisons and reads in its scratch dir and
    returns a detached result: nothing stays behind in the temp root."""
    import tempfile

    from fourmc_spark.queries import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES["sql_4mc_sinkstats_scan"](spark, sf_dir).toPandas()
    assert list(out.columns) == [
        "event_type", "cnt", "user_sum", "value_sum", "min_event",
        "max_event",
    ]
    assert os.listdir(tmp_path) == []
