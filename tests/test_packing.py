"""Split packing: the planner's block-aligned slices are packed into
about one partition per core, so many small files share a few tasks.
Packing may only regroup slices — never add, drop or change one — and
a packed read returns exactly the rows of a one-file-per-partition
read."""

import functools
import os
import random
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    CaseInsensitiveDict, EqualTo, GreaterThanOrEqual, In, IsNull, LessThan,
)

from fourmc_spark.format.core import MAX_BLOCK_SIZE
from fourmc_spark.format.reader import scan_file_info
from fourmc_spark.format.writer import write_file, write_zst_file
from fourmc_spark.sources.datasource import (
    DEFAULT_MAX_BLOCKS_PER_SPLIT,
    DEFAULT_MAX_PARTITION_BYTES,
    FourMcDataSource,
    Slice,
    _list_files,
    iter_slices,
    pack_slices,
)

_DDL = "k bigint, name string, v double"
_MiB = 1 << 20


def _check_packing(sized, parts, max_bytes, max_blocks):
    """Same multiset of slices, still in plan order; every partition
    within both bounds, except a lone slice, which the planner already
    sized."""
    assert Counter(iter_slices(parts)) == Counter(s for s, _ in sized)
    assert list(iter_slices(parts)) == [s for s, _ in sized]
    blocks = dict(sized)
    for p in parts:
        sl = p.slices()
        assert sl, "only an empty plan may hold the no-op partition"
        if len(sl) > 1:
            assert sum(s.end - s.start for s in sl) <= max_bytes
            assert sum(blocks[s] for s in sl) <= max_blocks


def test_pack_rule_one_partition_per_core():
    # the scan benchmark's shape: 8 files of ~3 MiB on 4 cores
    sized = [(Slice(f"f{i}.4mc", "lz4", 4, 4 + 3 * _MiB, True), 1)
             for i in range(8)]
    parts = pack_slices(sized, DEFAULT_MAX_PARTITION_BYTES,
                        DEFAULT_MAX_BLOCKS_PER_SPLIT, cores=4)
    assert [[s.path for s in p.slices()] for p in parts] == [
        ["f0.4mc", "f1.4mc"], ["f2.4mc", "f3.4mc"],
        ["f4.4mc", "f5.4mc"], ["f6.4mc", "f7.4mc"],
    ]
    # sizes that are only about equal pack the same way
    rnd = random.Random(7)
    uneven = [(Slice(f"f{i}.4mc", "lz4", 4,
                     4 + 3 * _MiB + rnd.randint(-200_000, 200_000), True), 1)
              for i in range(8)]
    parts = pack_slices(uneven, DEFAULT_MAX_PARTITION_BYTES,
                        DEFAULT_MAX_BLOCKS_PER_SPLIT, cores=4)
    assert [len(p.slices()) for p in parts] == [2, 2, 2, 2]
    # the cores given (the session's parallelism) set the count
    assert len(pack_slices(uneven, DEFAULT_MAX_PARTITION_BYTES,
                           DEFAULT_MAX_BLOCKS_PER_SPLIT, cores=2)) == 2
    # tiny inputs never spread below one block per partition
    tiny = [(Slice(f"t{i}.4mc", "lz4", 4, 1000, True), 1) for i in range(50)]
    assert len(pack_slices(tiny, DEFAULT_MAX_PARTITION_BYTES, 64,
                           cores=4)) == 1
    # a plan with nothing kept still needs one no-op partition
    (noop,) = pack_slices([], DEFAULT_MAX_PARTITION_BYTES, 64, cores=4)
    assert noop.path == "" and noop.slices() == ()


@pytest.mark.parametrize("seed", range(20))
def test_pack_random_plans_keep_slices_and_bounds(seed):
    rnd = random.Random(seed)
    max_bytes = rnd.choice([64 << 10, 4 * _MiB, 16 * _MiB, 128 * _MiB])
    max_blocks = rnd.choice([1, 2, 8, 64])
    sized = []
    for i in range(rnd.randint(1, 120)):
        nb = rnd.randint(1, max_blocks)
        size = rnd.randint(1, min(max_bytes + MAX_BLOCK_SIZE, nb * _MiB))
        start = rnd.randint(4, 1 << 30)
        sized.append((Slice(f"f{i % 17}", "zstd", start, start + size,
                            rnd.random() < 0.5), nb))
    cores = rnd.choice([1, 2, 4, 16])
    parts = pack_slices(sized, max_bytes, max_blocks, cores=cores)
    _check_packing(sized, parts, max_bytes, max_blocks)
    assert len(parts) <= len(sized)


@pytest.mark.parametrize("max_blocks", [DEFAULT_MAX_BLOCKS_PER_SPLIT, 1])
def test_pack_is_linear_in_slices(max_blocks):
    # ~6 PB of 64-block slices: the block bound, not the byte bound,
    # closes every partition, which must not make packing quadratic
    sized = [(Slice(f"f{i // 16}", "zstd", 4 + (i % 16) * 64 * _MiB,
                    4 + (i % 16 + 1) * 64 * _MiB, i % 16 == 0), 64)
             for i in range(100_000)]
    if max_blocks == 1:
        sized = [(s._replace(end=s.start + 1000), 1) for s, _ in sized]
    t0 = time.perf_counter()
    parts = pack_slices(sized, DEFAULT_MAX_PARTITION_BYTES, max_blocks,
                        cores=4)
    assert time.perf_counter() - t0 < 5.0
    assert len(parts) == 100_000
    assert list(iter_slices(parts)) == [s for s, _ in sized]


def test_planner_packs_to_session_parallelism(spark, tmp_path):
    """register_fourmc hands the session's task slots to the planning
    process, whatever the host's CPU count."""
    import types

    from fourmc_spark.session import register_fourmc

    d = str(tmp_path / "slots")
    os.makedirs(d)
    for i in range(8):  # 8 incompressible files of 3 MiB, one block each
        write_file(os.path.join(d, f"f{i}.4mc"), os.urandom(3 * _MiB),
                   codec="lz4")

    def registered_with(slots):
        register_fourmc(types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(defaultParallelism=slots),
            conf=spark.conf, dataSource=spark.dataSource,
        ))
        return spark.read.format("fourmc").load(d)

    try:
        assert registered_with(2).rdd.getNumPartitions() == 2
        three = registered_with(3)
        assert three.rdd.getNumPartitions() == 3
        n = three.count()
    finally:
        register_fourmc(spark)
    assert spark.read.format("fourmc").load(d).count() == n


def _slice_blocks(sl: Slice) -> int:
    return sum(1 for o in scan_file_info(sl.path)[2] if sl.start <= o < sl.end)


@pytest.fixture(scope="module")
def pruning_tree(spark, tmp_path_factory):
    """Hive-partitioned NDJSON tree with file- and block-tier zone maps
    and blooms: 3 sides x 4 range buckets, many small blocks."""
    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats

    d = str(tmp_path_factory.mktemp("pack") / "tree")
    df = spark.range(6000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("n"), F.col("id") % 7)).alias("name"),
        (F.col("id") * 0.5).alias("v"),
        (F.col("id") % 3).cast("string").alias("side"),
    )
    (df.repartitionByRange(4, "k").sortWithinPartitions("k")
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"), "side")
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 2048).option("partitionby", "side")
       .mode("overwrite").save(d))
    analyze_stats(spark, d, _DDL)
    analyze_bloom(spark, d, _DDL, ["k"], block_bits=1 << 10)
    return d


@pytest.mark.parametrize("extra", [
    {},
    {"maxblockspersplit": "1"},
    {"maxpartitionbytes": "4096"},
])
@pytest.mark.parametrize("filters", [
    [],
    [EqualTo(("side",), "1")],
    [In(("side",), ("0", "2")), GreaterThanOrEqual(("k",), 2500)],
    [GreaterThanOrEqual(("k",), 1000), LessThan(("k",), 1300)],
    [EqualTo(("k",), 4321)],
    [IsNull(("name",))],
], ids=["none", "hive", "hive+zone", "zone", "bloom", "nulls"])
def test_packing_keeps_every_pruned_slice(pruning_tree, filters, extra):
    opts = {"path": pruning_tree, "jsonschema": _DDL,
            "partitioncolumns": "side", **extra}
    ds = FourMcDataSource(CaseInsensitiveDict(opts))
    rd = ds.reader(ds.schema())
    list(rd.pushFilters(filters))
    planned = rd._plan_slices(_list_files(pruning_tree))
    assert all(nb == _slice_blocks(s) for s, nb in planned)
    parts = rd.partitions()
    _check_packing(planned, parts, rd.max_partition_bytes,
                   rd.max_blocks_per_split)
    if len({s.path for s, _ in planned}) > 1 and not extra:
        # small files really share partitions
        assert len(parts) < len(planned)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _per_file_union(reader, files):
    """The same read one file at a time: one file per partition."""
    return functools.reduce(
        lambda a, b: a.unionByName(b), [reader().load(f) for f in files]
    )


def test_packed_typed_read_spans_hive_values(spark, tmp_path):
    d = str(tmp_path / "hive")
    rows = 0
    for i in range(6):
        side = "abc"[i % 3]
        os.makedirs(os.path.join(d, f"side={side}"), exist_ok=True)
        lines = ["k,name,v header line"] + [
            f'{{"k": {i * 1000 + j}, "name": "n{j % 5}", "v": {j / 4}}}'
            for j in range(40 + 13 * i)
        ]
        rows += len(lines) - 1
        write_file(os.path.join(d, f"side={side}", f"f{i}.4mz"),
                   ("\n".join(lines) + "\n").encode(), codec="zstd",
                   block_size=512)
    opts = {"jsonschema": _DDL, "partitioncolumns": "side",
            "withfilename": "true", "skipfirstline": "true"}

    ds = FourMcDataSource(CaseInsensitiveDict({"path": d, **opts}))
    parts = ds.reader(ds.schema()).partitions()
    spans = [{os.path.basename(os.path.dirname(s.path)) for s in p.slices()}
             for p in parts]
    assert max(len(s) for s in spans) > 1  # one task reads several sides

    def reader():
        return spark.read.format("fourmc").options(**opts)

    packed = reader().load(d)
    assert packed.rdd.getNumPartitions() < 6
    got = _rows(packed)
    assert len(got) == rows  # each file's header line dropped, once
    files = sorted(_list_files(d))
    assert got == _rows(_per_file_union(reader, files))
    assert {r["_file"] for r in packed.select("_file").collect()} == set(files)


def test_packed_proto_read_matches_per_file(spark, tmp_path):
    d = str(tmp_path / "proto")
    rows = [(f"u{i}", f"n{i}" if i % 4 else None, "t", 1000 + i,
             [f"tag{i % 3}"]) for i in range(600)]
    df = spark.createDataFrame(
        rows,
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    (df.repartition(6).write.format("fourmcproto").option("codec", "zstd")
     .mode("overwrite").save(d))
    files = sorted(_list_files(d))
    assert len(files) == 6
    def reader():
        return spark.read.format("fourmcproto")

    packed = reader().load(d)
    assert packed.rdd.getNumPartitions() < len(files)
    got = _rows(packed)
    assert len(got) == 600
    assert got == _rows(_per_file_union(reader, files))


def test_stream_batch_of_small_files_packs(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.stream import FourMcStreamReader

    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    want = []
    for i in range(12):
        lines = [f"f{i}-r{j}" for j in range(30 + i)]
        want += lines
        write_file(os.path.join(d, f"f{i:02d}.4mc"),
                   ("\n".join(lines) + "\n").encode(), codec="lz4",
                   block_size=256)
    # a non-splittable .zst file plans like in a batch read
    zst_lines = [f"z-r{j}" for j in range(25)]
    want += zst_lines
    write_zst_file(os.path.join(d, "z.zst"),
                   ("\n".join(zst_lines) + "\n").encode())
    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    r = FourMcStreamReader({"path": d}, schema)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert 1 <= len(parts) < 13
    assert {os.path.basename(s.path) for s in iter_slices(parts)} == {
        f"f{i:02d}.4mc" for i in range(12)
    } | {"z.zst"}
    got = [v for p in parts for b in r.read(p)
           for v in b.column("value").to_pylist()]
    assert sorted(got) == sorted(want)

    # and through the engine: one micro-batch, every row exactly once
    q = (spark.readStream.format("fourmc").load(d)
         .writeStream.format("memory").queryName("t_packed_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = [r["value"] for r in spark.table("t_packed_stream").collect()]
    assert sorted(out) == sorted(want)


def test_empty_or_fully_pruned_plans_one_noop(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.stream import FourMcStreamReader

    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    full = str(tmp_path / "full")
    os.makedirs(full)
    write_file(os.path.join(full, "a.4mc"), b"x\n" * 1000, codec="lz4")

    def plan(path, filters=()):
        ds = FourMcDataSource(CaseInsensitiveDict({"path": path}))
        rd = ds.reader(schema)
        list(rd.pushFilters(list(filters)))
        return rd.partitions()

    for parts in (
        plan(empty),
        plan(full, [LessThan(("offset",), 4)]),  # below the first block
    ):
        assert len(parts) == 1 and parts[0].path == ""
        assert list(iter_slices(parts)) == []
    assert len(plan(full)) == 1 and plan(full)[0].path

    r = FourMcStreamReader({"path": full}, schema)
    end = r.latestOffset()
    (noop,) = r.partitions(end, end)  # no new files in this batch
    assert noop.path == "" and list(r.read(noop)) == []
    assert spark.read.format("fourmc").load(empty).count() == 0
