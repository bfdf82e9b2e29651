"""Spark DataSource round-trips: write df -> .4mc/.4mz -> read back,
multi-partition split planning, and value equality with spark.read.text."""

import glob
import os
import warnings

import pytest
from pyspark.sql import functions as F

from fourmc_spark.sources.datasource import iter_slices


def _write_read(spark, tmp_path, codec, level, n=20000, block_size=8192,
                max_part=64 * 1024):
    out = str(tmp_path / f"ds_{codec}_{level}")
    df = spark.range(n).select(
        F.concat(F.lit("row "), F.col("id"), F.lit(" payload words words")).alias("value")
    )
    (
        df.coalesce(2)
        .write.format("fourmc")
        .option("codec", codec)
        .option("level", level)
        .option("blocksize", block_size)
        .mode("overwrite")
        .save(out)
    )
    ext = ".4mc" if codec in ("lz4", "4mc") else ".4mz"
    files = glob.glob(os.path.join(out, f"*{ext}"))
    assert files, "sink produced no files"
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = (
        spark.read.format("fourmc")
        .option("maxpartitionbytes", max_part)
        .load(out)
    )
    return df, back


@pytest.mark.parametrize("codec,level", [("lz4", "fast"), ("zstd", "medium")])
def test_roundtrip_through_spark(spark, tmp_path, codec, level):
    df, back = _write_read(spark, tmp_path, codec, level)
    assert back.count() == df.count()
    missing = df.select("value").exceptAll(back.select("value"))
    extra = back.select("value").exceptAll(df.select("value"))
    assert missing.count() == 0
    assert extra.count() == 0


def test_split_planning_produces_multiple_partitions(spark, tmp_path):
    _, back = _write_read(
        spark, tmp_path, "lz4", "fast", n=50000, block_size=4096, max_part=32 * 1024
    )
    nparts = back.rdd.getNumPartitions()
    assert nparts > 4, f"expected many block-aligned splits, got {nparts}"
    # union over many small splits must still be exactly the dataset
    assert back.count() == 50000
    assert back.select("value").distinct().count() == 50000


def test_max_blocks_per_split_bounds_uncompressed_size(spark, tmp_path):
    """maxblockspersplit caps blocks (hence uncompressed bytes) per
    partition even when the compressed span stays tiny — the memory
    guard compressed-byte slicing alone cannot provide."""
    out = str(tmp_path / "blockcap")
    df = spark.range(20000).select(
        F.concat(F.lit("r"), F.col("id"), F.lit(" words " * 10)).alias("value")
    )
    (
        df.coalesce(1)
        .write.format("fourmc")
        .option("codec", "zstd")
        .option("blocksize", 16 * 1024)
        .mode("overwrite")
        .save(out)
    )
    wide = spark.read.format("fourmc").load(out)  # default: few partitions
    capped = (
        spark.read.format("fourmc")
        .option("maxblockspersplit", 2)
        .load(out)
    )
    assert capped.rdd.getNumPartitions() > wide.rdd.getNumPartitions()
    # split plan never changes the data
    assert capped.count() == 20000
    assert wide.select("value").exceptAll(capped.select("value")).count() == 0


def test_maxfilebytes_rolls_sealed_files(spark, tmp_path):
    """maxfilebytes rolls a task's output into multiple independently
    sealed files (each with its own EOS + footer) — the maxRecordsPerFile
    analog for bounded file sizes at scale."""
    from fourmc_spark.format import decompress_file

    out = str(tmp_path / "rolled")
    df = spark.range(30000).select(
        F.concat(F.lit("row "), F.col("id"), F.lit(" filler words here")).alias("value")
    )
    (
        df.coalesce(1)
        .write.format("fourmc")
        .option("codec", "lz4")
        .option("blocksize", 16 * 1024)
        .option("maxfilebytes", 24 * 1024)
        .mode("overwrite")
        .save(out)
    )
    files = glob.glob(os.path.join(out, "*.4mc"))
    assert len(files) > 2, f"expected rolled files, got {files}"
    # every file but the tail is bounded: past the threshold by at most
    # one roll-granule of compressed output
    sizes = sorted(os.path.getsize(f) for f in files)
    assert all(s < 24 * 1024 + 64 * 1024 for s in sizes), sizes
    for f in files:
        decompress_file(f)  # raises unless independently sealed + valid
    back = spark.read.format("fourmc").load(out)
    assert back.count() == 30000
    assert df.select("value").exceptAll(back.select("value")).count() == 0


def test_comma_separated_multi_path_load(spark, tmp_path):
    """Hadoop FileInputFormat.setInputPaths semantics: a comma-separated
    path loads the union of the listed dirs/files."""
    outs = []
    for i in range(2):
        out = str(tmp_path / f"multi{i}")
        (
            spark.range(i * 1000, (i + 1) * 1000)
            .select(F.concat(F.lit("r"), F.col("id")).alias("value"))
            .coalesce(1)
            .write.format("fourmc")
            .mode("overwrite")
            .save(out)
        )
        outs.append(out)
    both = spark.read.format("fourmc").load(",".join(outs))
    assert both.count() == 2000
    assert both.select("value").distinct().count() == 2000


def test_schema(spark, tmp_path):
    _, back = _write_read(spark, tmp_path, "lz4", "fast", n=100)
    assert [f.name for f in back.schema.fields] == ["offset", "value"]
    assert back.schema["offset"].dataType.typeName() == "long"
    assert back.schema["value"].dataType.typeName() == "string"


def test_read_reference_cli_file(spark, tmp_path):
    """Scan a file produced by the reference CLI binary through Spark."""
    cli = "/root/reference/tool/linux/amd64/4mc"
    if not os.path.exists(cli):
        pytest.skip("reference CLI unavailable")
    import subprocess

    plain = tmp_path / "plain.txt"
    lines = [f"ref line {i}" for i in range(5000)]
    plain.write_text("\n".join(lines) + "\n")
    d = tmp_path / "refdata"
    d.mkdir()
    subprocess.run([cli, "-f", str(plain), str(d / "ref.4mc")], check=True,
                   capture_output=True)
    back = spark.read.format("fourmc").load(str(d))
    got = sorted(r.value for r in back.collect())
    assert got == sorted(lines)


def test_zst_scan(spark, tmp_path):
    """Standard .zst streaming files (reference ZstCodec) are readable —
    non-splittable, one partition per file, mixed freely with 4mc/4mz."""
    import pyarrow as pa

    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "zst_mix")
    os.makedirs(d)
    lines = [f"zline{i}" for i in range(1000)]
    payload = ("\n".join(lines) + "\n").encode()
    with open(os.path.join(d, "a.zst"), "wb") as f:
        f.write(pa.Codec("zstd", 3).compress(payload).to_pybytes())
    write_file(os.path.join(d, "b.4mc"), b"mc1\nmc2\n", codec="lz4", level="fast")

    df = spark.read.format("fourmc").load(d)
    got = sorted(r["value"] for r in df.collect())
    assert got == sorted(lines + ["mc1", "mc2"])
    # offsets for .zst are decompressed-stream positions, monotonically
    # increasing from 0
    offs = [r["offset"] for r in
            spark.read.format("fourmc").load(os.path.join(d, "a.zst"))
            .orderBy("offset").collect()]
    assert offs[0] == 0 and offs == sorted(offs) and len(offs) == 1000


def test_zst_multiframe(spark, tmp_path):
    """Concatenated zstd frames in one .zst (what a streaming writer that
    flushes produces) decode as one continuous stream."""
    import pyarrow as pa

    d = str(tmp_path / "zst_mf")
    os.makedirs(d)
    c = pa.Codec("zstd", 1)
    with open(os.path.join(d, "m.zst"), "wb") as f:
        f.write(c.compress(b"first\nsec").to_pybytes())
        f.write(c.compress(b"ond\nthird\n").to_pybytes())
    got = sorted(
        r["value"] for r in spark.read.format("fourmc").load(d).collect()
    )
    assert got == ["first", "second", "third"]


def _read_in_process(path, **opts):
    """(offset, value) rows of every partition through ``read()``,
    without Spark."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.sources.datasource import FourMcDataSource

    ds = FourMcDataSource(CaseInsensitiveDict({"path": path, **opts}))
    reader = ds.reader(ds.schema())
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows += zip(batch.column("offset").to_pylist(),
                        batch.column("value").to_pylist())
    return rows


@pytest.mark.parametrize("ext", ["zst", "lz4_fast"])
def test_skipfirstline_stream_codecs(tmp_path, ext):
    """skipfirstline on the non-splittable stream codecs drops exactly
    the file's first line; every other row keeps its decompressed-stream
    offset."""
    from fourmc_spark.format.hadoop_stream import write_hadoop_file
    from fourmc_spark.format.writer import write_zst_file

    data = b"hdr,a\r\n" + b"".join(
        b"row%d\r\n" % i if i % 7 == 0 else b"row%d\n" % i
        for i in range(3000)
    ) + b"\ntail"
    p = str(tmp_path / f"h.{ext}")
    if ext == "zst":
        write_zst_file(p, data)
    else:
        write_hadoop_file(p, data, "lz4", block_size=1000)
    whole = _read_in_process(p)
    assert whole[0] == (0, "hdr,a") and whole[-1][1] == "tail"
    assert len(whole) == 3003
    assert _read_in_process(p, skipfirstline="true") == whole[1:]


def _container_ids():
    from fourmc_spark.format.core import CONTAINERS

    return sorted(CONTAINERS)


@pytest.mark.parametrize("ext", _container_ids())
def test_every_container_through_sink_and_reader(tmp_path, ext):
    """Each entry of the container table reaches every consumer: the sink
    task writes and commits the file under the entry's ``codec`` name,
    the listing and the planner pick it up, ``read()`` returns exactly
    the written lines and offsets with skipfirstline off and on, and
    ``layout_stats`` counts its blocks."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.format.core import container_for_path
    from fourmc_spark.format.reader import iter_lines_for_split, scan_file_info
    from fourmc_spark.operators.maintenance import layout_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSource, FourMcDataSourceWriter, _list_files,
    )

    lines = ["hdr,a"] + [f"row{i}" for i in range(20000)]
    out = str(tmp_path / "t")
    w = FourMcDataSourceWriter(
        {"path": out, "codec": ext[1:].upper(), "blocksize": "65536"},
        StructType([StructField("value", StringType())]), True,
    )
    batch = pa.RecordBatch.from_arrays([pa.array(lines)], ["value"])
    w.commit([w.write(iter([batch]))])

    (path,) = _list_files(out)
    assert path.endswith(ext)
    container = container_for_path(path)
    data = ("\n".join(lines) + "\n").encode()
    if container.indexed:
        _, size, offsets = scan_file_info(path)
        assert len(offsets) > 1
        with open(path, "rb") as f:
            want = [(o, v.decode()) for o, v in
                    iter_lines_for_split(f, container.codec, 0, size)]
        n_blocks = len(offsets)
    else:
        starts = [0]
        for line in lines[:-1]:
            starts.append(starts[-1] + len(line) + 1)
        want = list(zip(starts, lines))
        n_blocks = 1
    assert [v for _, v in want] == lines and len(data) > 65536

    opts = {"maxpartitionbytes": "1"}  # one slice per 4mc/4mz block
    ds = FourMcDataSource({"path": out, **opts})
    slices = list(iter_slices(ds.reader(ds.schema()).partitions()))
    assert {s.codec for s in slices} == {container.slice_codec}
    assert len(slices) == n_blocks
    assert _read_in_process(out, **opts) == want
    assert _read_in_process(out, skipfirstline="true", **opts) == want[1:]
    stats = layout_stats(out)
    assert (stats["n_files"], stats["n_blocks"]) == (1, n_blocks)


def test_glob_paths(spark, tmp_path):
    """Hadoop-style glob paths expand at planning (S2 parity)."""
    from fourmc_spark.format.writer import write_file

    for sub, name, data in [("d1", "a.4mc", b"g1\n"), ("d2", "b.4mc", b"g2\n"),
                            ("skip", "c.4mc", b"g3\n")]:
        os.makedirs(str(tmp_path / sub), exist_ok=True)
        write_file(str(tmp_path / sub / name), data, codec="lz4")
    got = sorted(
        r["value"] for r in
        spark.read.format("fourmc").load(str(tmp_path / "d*")).collect()
    )
    assert got == ["g1", "g2"]


def test_zst_sink_roundtrip_and_external_tool(spark, tmp_path):
    """codec=zst sink (reference C8 write side): one standard zstd frame
    per task file. Round-trips through our scan AND decodes with the
    stock `zstd` CLI — external conformance, not self-agreement."""
    import shutil
    import subprocess

    from pyspark.sql import functions as F

    d = str(tmp_path / "zst_out")
    df = spark.range(20_000).select(
        F.concat(F.lit("line-"), F.col("id")).alias("value")
    )
    df.write.format("fourmc").option("codec", "zst").option("level", "3") \
        .mode("overwrite").save(d)
    files = [f for f in os.listdir(d) if f.endswith(".zst")]
    assert files, os.listdir(d)
    back = spark.read.format("fourmc").load(d)
    assert back.count() == 20_000
    assert df.select("value").exceptAll(back.select("value")).count() == 0
    zstd_bin = shutil.which("zstd")
    if zstd_bin:
        for f in files:
            p = subprocess.run([zstd_bin, "-t", os.path.join(d, f)],
                               capture_output=True)
            assert p.returncode == 0, p.stderr.decode()


def test_zst_writer_level_rule(tmp_path):
    """Reference level semantics (ZstCodec.java:118-122): default 1,
    invalid -> 3, names map through the 4mz table."""
    from fourmc_spark.format.writer import zst_level

    assert zst_level(None) == 1
    assert zst_level("7") == 7
    assert zst_level(0) == 3
    assert zst_level(99) == 3
    assert zst_level("bogus") == 3
    assert zst_level("ultra") == 12


def test_partitioned_write_and_read(spark, tmp_path):
    """Hive-style partitionby layout: key=value dirs, path pruning, and
    partition-column reconstruction via the partitioncolumns option."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "parted")
    df = spark.range(10_000).select(
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        (F.col("id") % 4).cast("string").alias("bucket"),
    )
    df.write.format("fourmc").option("codec", "lz4") \
        .option("partitionby", "bucket").mode("overwrite").save(d)

    subdirs = sorted(x for x in os.listdir(d) if x.startswith("bucket="))
    assert subdirs == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]

    # full read with the partition column rebuilt from paths
    back = spark.read.format("fourmc").option("partitioncolumns", "bucket").load(d)
    assert back.columns == ["offset", "value", "bucket"]
    counts = {r.bucket: r.n for r in
              back.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 2500, "1": 2500, "2": 2500, "3": 2500}

    # path pruning: one partition dir == one quarter of the data
    one = spark.read.format("fourmc").load(os.path.join(d, "bucket=2"))
    assert one.count() == 2500

    # round-trip content
    got = spark.read.format("fourmc").load(d).select("value")
    assert df.select("value").exceptAll(got).count() == 0

    # overwrite replaces partitioned output recursively (no stale files)
    df.limit(400).write.format("fourmc").option("codec", "lz4") \
        .option("partitionby", "bucket").mode("overwrite").save(d)
    assert spark.read.format("fourmc").load(d).count() == 400


def test_offset_filter_pushdown_prunes_blocks(spark, tmp_path):
    """Offset predicates prune blocks at planning via the footer index
    (reference X2/X3 binary search) without changing results."""
    from pyspark.sql.datasource import (
        CaseInsensitiveDict, EqualTo, GreaterThanOrEqual, LessThan,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.datasource import FourMcDataSourceReader

    d = str(tmp_path / "offsets")
    df = spark.range(50_000).select(
        F.concat(F.lit("row"), F.col("id")).alias("value")
    )
    df.write.format("fourmc").option("codec", "lz4") \
        .option("blocksize", 16384).mode("overwrite").save(d)

    base = spark.read.format("fourmc").option("maxpartitionbytes", 32768).load(d)
    offs = sorted(r[0] for r in base.select("offset").distinct().collect())
    assert len(offs) > 4
    mid = offs[len(offs) // 2]

    # end-to-end: filtered scan == post-hoc filter of the full scan
    a = base.where(F.col("offset") >= mid).orderBy("offset", "value").collect()
    b = sorted(
        (r for r in base.collect() if r["offset"] >= mid),
        key=lambda r: (r["offset"], r["value"]),
    )
    assert a == b and len(a) > 0

    # equality selects exactly one block's lines
    one = base.where(F.col("offset") == mid).collect()
    assert one and all(r["offset"] == mid for r in one)

    # unit: the planner drops partitions outside the pushed range
    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    opts = CaseInsensitiveDict({"path": d, "maxpartitionbytes": "32768"})
    full = len([*iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())])
    rng = FourMcDataSourceReader(opts, schema)
    list(rng.pushFilters([GreaterThanOrEqual(("offset",), mid)]))
    assert 0 < len([*iter_slices(rng.partitions())]) < full
    eq = FourMcDataSourceReader(opts, schema)
    list(eq.pushFilters([EqualTo(("offset",), mid)]))
    assert len([*iter_slices(eq.partitions())]) == 1
    lt = FourMcDataSourceReader(opts, schema)
    list(lt.pushFilters([LessThan(("offset",), offs[0])]))
    # nothing below the first block: planner emits only the no-op partition
    assert [p for p in iter_slices(lt.partitions()) if p.path] == []


def test_partition_column_filter_prunes_files(spark, tmp_path):
    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo, In
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.datasource import FourMcDataSourceReader

    d = str(tmp_path / "pruned")
    df = spark.createDataFrame(
        [(f"line{i}", str(i % 3)) for i in range(600)], "value string, src string"
    )
    df.write.format("fourmc").option("codec", "lz4") \
        .option("partitionby", "src").mode("overwrite").save(d)

    rd = spark.read.format("fourmc").option("partitioncolumns", "src").load(d)
    got = rd.where(F.col("src") == "1").select("value").orderBy("value").collect()
    want = sorted(r["value"] for r in rd.collect() if r["src"] == "1")
    assert [r["value"] for r in got] == want and len(got) == 200

    schema = StructType(
        [
            StructField("offset", LongType()),
            StructField("value", StringType()),
            StructField("src", StringType()),
        ]
    )
    opts = CaseInsensitiveDict({"path": d, "partitioncolumns": "src"})
    full = len([*iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())])
    one = FourMcDataSourceReader(opts, schema)
    list(one.pushFilters([EqualTo(("src",), "1")]))
    n_one = len([*iter_slices(one.partitions())])
    two = FourMcDataSourceReader(opts, schema)
    list(two.pushFilters([In(("src",), ("0", "2"))]))
    n_two = len([*iter_slices(two.partitions())])
    assert n_one < n_two < full


def test_file_pruned_scan_layout_zero_partitions(spark, tmp_path):
    """Plan pin for sql_4mc_file_pruned_scan (queries.py): in its exact
    layout (8 hive bucket dirs, pushed In over the odd buckets), the
    planner must emit ZERO input partitions for non-matching files —
    whole-file pruning, the 100 TB payoff of S2 discovery + pushFilters
    (reference analog: per-file index caching in split planning,
    FourMcInputFormat.java:126-173)."""
    from pyspark.sql.datasource import CaseInsensitiveDict, In
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.datasource import FourMcDataSourceReader

    d = str(tmp_path / "fileprune")
    df = spark.range(1, 4001).select(
        F.concat_ws(",", F.col("id"), F.col("id") % 97).alias("value"),
        F.expr("CAST(pmod((id - 1) DIV 500, 8) AS STRING)").alias("bucket"),
    )
    df.write.format("fourmc").option("codec", "zstd") \
        .option("partitionby", "bucket").mode("overwrite").save(d)

    schema = StructType(
        [
            StructField("offset", LongType()),
            StructField("value", StringType()),
            StructField("bucket", StringType()),
        ]
    )
    opts = CaseInsensitiveDict({"path": d, "partitioncolumns": "bucket"})
    full = [*iter_slices(FourMcDataSourceReader(opts, schema).partitions())]
    assert {p.path.split("bucket=")[1].split("/")[0] for p in full} == {
        str(b) for b in range(8)
    }
    kept = ("1", "3", "5", "7")
    rd = FourMcDataSourceReader(opts, schema)
    list(rd.pushFilters([In(("bucket",), kept)]))
    parts = [*iter_slices(rd.partitions())]
    assert parts, "pruned plan must still scan the matching files"
    got = {p.path.split("bucket=")[1].split("/")[0] for p in parts}
    assert got == set(kept)  # zero partitions reference a pruned file
    # and the pruned plan is exactly the full plan minus the even files
    assert len(parts) == sum(
        1 for p in full if p.path.split("bucket=")[1].split("/")[0] in kept
    )


def test_scan_info_cache_invalidates_on_rewrite(spark, tmp_path):
    """Planning caches the footer index per (path, size, mtime); a file
    rewritten in place (new footer) must not serve stale offsets."""
    import os

    from fourmc_spark.format import write_file
    from fourmc_spark.format.reader import scan_file_info

    p = str(tmp_path / "c.4mc")
    write_file(p, b"alpha\n" * 1000, codec="lz4", level="fast")
    codec1, size1, offs1 = scan_file_info(p)
    assert scan_file_info(p) == (codec1, size1, offs1)  # cache hit
    write_file(p, b"b\n" * 200_000, codec="lz4", level="fast",
               block_size=4096)
    os.utime(p)  # ensure mtime advances even on coarse clocks
    codec2, size2, offs2 = scan_file_info(p)
    assert size2 != size1 and len(offs2) > len(offs1)


def test_planner_caches_stay_warm_above_their_bound(tmp_path, monkeypatch):
    """A table with more files than the footer and sidecar caches hold
    still plans warm the second time: clearing a full cache (or evicting
    its oldest entry) misses on every file of such a table, plan after
    plan, because the planner asks for files in the same order."""
    import pyarrow as pa
    from pyspark.sql.datasource import GreaterThanOrEqual
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format import reader
    from fourmc_spark.sources import datasource
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, FourMcDataSourceWriter,
    )

    limit = 32
    out = str(tmp_path / "t")
    w = FourMcDataSourceWriter(
        {"path": out, "codec": "lz4", "statsschema": "k bigint"},
        StructType([StructField("value", StringType())]), True,
    )
    w.commit([
        w.write(iter([pa.RecordBatch.from_arrays(
            [pa.array([f'{{"k": {i}}}'])], ["value"]
        )]))
        for i in range(limit + 4)
    ])

    puts = {"footer": 0, "sidecar": 0}  # one put per cache miss
    real_put = reader.bounded_put

    def counting(name):
        def put(cache, lim, key, value):
            puts[name] += 1
            real_put(cache, lim, key, value)
        return put

    for mod, name, cache in ((reader, "footer", "_SCAN_INFO_CACHE"),
                             (datasource, "sidecar", "_SIDECAR_CACHE")):
        monkeypatch.setattr(mod, cache, {})
        monkeypatch.setattr(mod, cache + "_MAX", limit)
        monkeypatch.setattr(mod, "bounded_put", counting(name))

    def plan():
        puts.update(footer=0, sidecar=0)
        rd = FourMcDataSourceReader(
            {"path": out, "jsonschema": "k bigint"},
            StructType([StructField("k", LongType())]),
        )
        list(rd.pushFilters([GreaterThanOrEqual(("k",), 0)]))
        rd.partitions()
        return dict(puts)

    assert plan() == {"footer": limit + 4, "sidecar": limit + 4}
    assert len(reader._SCAN_INFO_CACHE) <= limit
    assert len(datasource._SIDECAR_CACHE) <= limit
    warm = {k: limit + 4 - v for k, v in plan().items()}
    assert min(warm.values()) >= limit // 2, warm


def test_read_4mc_csv_typed_with_header(spark, tmp_path):
    from fourmc_spark.format import write_file
    from fourmc_spark.sources import read_4mc_csv

    p = str(tmp_path / "csv")
    os.makedirs(p)
    body = "id,name,score\n" + "".join(
        f"{i},n{i},{i * 0.5}\n" for i in range(1000)
    )
    write_file(os.path.join(p, "a.4mz"), body.encode(), codec="zstd",
               level="fast", block_size=2048)
    df = read_4mc_csv(
        spark, p, "id INT, name STRING, score DOUBLE", header=True,
        maxpartitionbytes=4096,
    )
    assert df.columns == ["id", "name", "score"]
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert len(rows) == 1000 and rows[7] == ("n7", 3.5)
    # malformed line -> NULL fields, not a task failure
    write_file(os.path.join(p, "b.4mz"), b"id,name,score\nnot-an-int,x,y\n",
               codec="zstd", level="fast")
    bad = read_4mc_csv(spark, p, "id INT, name STRING, score DOUBLE",
                       header=True)
    assert bad.count() == 1001
    assert bad.where(F.col("id").isNull()).count() == 1


def test_read_4mc_json_typed(spark, tmp_path):
    from fourmc_spark.format import write_file
    from fourmc_spark.sources import read_4mc_json

    p = str(tmp_path / "j")
    os.makedirs(p)
    body = "".join(
        f'{{"k": {i}, "tags": ["a", "t{i % 3}"]}}\n' for i in range(500)
    )
    write_file(os.path.join(p, "a.4mc"), body.encode(), codec="lz4",
               level="fast", block_size=1024)
    df = read_4mc_json(spark, p, "k BIGINT, tags ARRAY<STRING>",
                       maxpartitionbytes=2048)
    assert df.count() == 500
    got = df.where(F.col("k") == 42).collect()[0]
    assert got["tags"] == ["a", "t0"]


def test_csv_json_write_read_roundtrip(spark, tmp_path):
    from fourmc_spark.sources import (
        read_4mc_csv, read_4mc_json, write_4mc_csv, write_4mc_json,
    )

    df = spark.range(2000).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        (F.col("id") * 0.25).alias("score"),
    )
    c = str(tmp_path / "wc")
    write_4mc_csv(df, c, codec="lz4", level="fast")
    back = read_4mc_csv(spark, c, "id INT, name STRING, score DOUBLE")
    assert back.count() == 2000
    assert df.exceptAll(back).count() == 0 and back.exceptAll(df).count() == 0

    j = str(tmp_path / "wj")
    write_4mc_json(df, j)
    backj = read_4mc_json(spark, j, "id INT, name STRING, score DOUBLE")
    assert df.exceptAll(backj).count() == 0 and backj.exceptAll(df).count() == 0


def test_register_fourmc_enables_pushdown_on_stock_session(spark, tmp_path):
    """A session WITHOUT spark.sql.python.filterPushdown.enabled (the
    driver's harness, a migrating job's existing session) must still be
    able to batch-read format("fourmc") after register_fourmc() — the
    readers implement pushFilters(), which Spark 4.x rejects at reader
    init unless the conf is on.  register_fourmc() now sets it at
    runtime (the round-2 red query, proto_4mc_roundtrip)."""
    from fourmc_spark.session import register_fourmc

    out = str(tmp_path / "stock_session")
    df = spark.range(500).select(
        F.concat(F.lit("line "), F.col("id")).alias("value")
    )
    df.coalesce(1).write.format("fourmc").mode("overwrite").save(out)

    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(conf_key, "false")  # simulate a stock session
        register_fourmc(spark)
        assert spark.conf.get(conf_key) == "true"
        back = spark.read.format("fourmc").load(out)
        assert back.count() == 500
        # filtered read exercises the pushFilters() init path directly
        assert back.filter(F.col("value") == "line 7").count() == 1
    finally:
        spark.conf.set(conf_key, "true")


# ---------------------------------------------------------------------------
# Typed NDJSON scan (jsonschema option) + analyze_stats zone-map pruning (r9)
# ---------------------------------------------------------------------------

_ZM_DDL = "k bigint, name string, v double"


def _write_zm_tree(spark, d: str, n_files: int = 4, rows: int = 400):
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartitionByRange(n_files, "k")
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .mode("overwrite").save(d))


def test_typed_json_scan_matches_from_json(spark, tmp_path):
    """option('jsonschema', ddl): Arrow-JSON-parsed typed columns must
    equal the value-mode from_json parse row for row."""
    d = str(tmp_path / "typed")
    _write_zm_tree(spark, d)
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL).load(d)
    assert typed.schema.simpleString() == (
        "struct<k:bigint,name:string,v:double>"
    )
    ref = (
        spark.read.format("fourmc").load(d)
        .select(F.from_json("value", _ZM_DDL).alias("r")).select("r.*")
    )
    assert typed.count() == 400
    assert typed.exceptAll(ref).count() == 0
    assert ref.exceptAll(typed).count() == 0
    # absent fields parse as NULL (explicit_schema contract)
    from fourmc_spark.format.writer import write_file
    d2 = str(tmp_path / "typed2")
    os.makedirs(d2)
    write_file(os.path.join(d2, "a.4mz"), b'{"k": 1}\n{"name": "x"}\n',
               codec="zstd")
    rows = (spark.read.format("fourmc").option("jsonschema", _ZM_DDL)
            .load(d2).orderBy("k").collect())
    assert [(r["k"], r["name"], r["v"]) for r in rows] == [
        (None, "x", None), (1, None, None)
    ]


def test_withfilename_column(spark, tmp_path):
    d = str(tmp_path / "wfn")
    _write_zm_tree(spark, d, n_files=3)
    df = (spark.read.format("fourmc").option("withfilename", "true")
          .load(d).groupBy("_file").count())
    rows = df.collect()
    assert len(rows) == 3 and sum(r["count"] for r in rows) == 400
    assert all(r["_file"].startswith(d) for r in rows)


def test_analyze_stats_sidecars_and_zone_pruning(spark, tmp_path):
    from pyspark.sql.datasource import (
        CaseInsensitiveDict, EqualTo, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "zm")
    _write_zm_tree(spark, d, n_files=4, rows=400)  # k ranges ~100/file
    with warnings.catch_warnings():
        # a partially annotated applyInPandas function makes Spark warn
        # that it cannot infer the eval type
        warnings.simplefilter("error", UserWarning)
        res = analyze_stats(spark, d, _ZM_DDL)
    assert res["files"] == 4
    import glob as _glob
    import json as _json
    sidecars = sorted(_glob.glob(f"{d}/*.stats.json"))
    assert len(sidecars) == 4
    meta = _json.load(open(sidecars[0]))
    assert meta["size"] == os.path.getsize(sidecars[0][: -len(".stats.json")])
    assert set(meta["columns"]) == {"k", "name", "v"}

    schema = _parse_flat_ddl(_ZM_DDL)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": _ZM_DDL})
    full_files = {p.path for p in iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())}
    assert len(full_files) == 4

    def planned(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return {p.path for p in iter_slices(rd.partitions()) if p.path}

    # range predicate keeps only overlapping files
    mid = planned([GreaterThanOrEqual(("k",), 150), LessThan(("k",), 250)])
    assert 1 <= len(mid) <= 2 and mid < full_files
    # point predicate hits exactly one file
    assert len(planned([EqualTo(("k",), 0)])) == 1
    # out-of-domain predicate prunes EVERYTHING
    assert planned([GreaterThanOrEqual(("k",), 10_000)]) == set()
    # string zone maps prune too (all names share the n* prefix)
    assert planned([GreaterThanOrEqual(("name",), "zzz")]) == set()
    # ...and pruning never changes results on a REAL query
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL).load(d)
    got = typed.filter((F.col("k") >= 150) & (F.col("k") < 250)) \
               .agg(F.sum("k").alias("s")).first()["s"]
    assert got == sum(range(150, 250))


def test_zone_pruning_is_conservative(spark, tmp_path):
    """No sidecar, stale sidecar (size mismatch), or incomparable types
    => file is scanned; all-null column => provably prunable."""
    import json as _json

    from pyspark.sql.datasource import CaseInsensitiveDict, GreaterThanOrEqual

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "cons")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b'{"k": 1, "v": 0.5}\n', codec="zstd")
    write_file(os.path.join(d, "b.4mz"), b'{"k": 2, "v": null}\n', codec="zstd")
    schema = _parse_flat_ddl(_ZM_DDL)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": _ZM_DDL})

    def planned(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return {os.path.basename(p.path)
                for p in iter_slices(rd.partitions()) if p.path}

    # no sidecars yet: nothing pruned
    assert planned([GreaterThanOrEqual(("k",), 100)]) == {"a.4mz", "b.4mz"}
    analyze_stats(spark, d, _ZM_DDL)
    assert planned([GreaterThanOrEqual(("k",), 100)]) == set()
    # all-null column in b.4mz: v-predicates prove b empty
    assert planned([GreaterThanOrEqual(("v",), 0.0)]) == {"a.4mz"}
    # stale sidecar (size mismatch after rewrite): back to scanned
    write_file(os.path.join(d, "a.4mz"),
               b'{"k": 500, "v": 1.0}\n{"k": 501, "v": 2.0}\n', codec="zstd")
    assert "a.4mz" in planned([GreaterThanOrEqual(("k",), 100)])
    # malformed sidecar: ignored, file scanned
    with open(os.path.join(d, "b.4mz.stats.json"), "w") as f:
        f.write("{not json")
    assert planned([GreaterThanOrEqual(("k",), 0)]) == {"a.4mz", "b.4mz"}


def test_zone_pruned_file_is_never_opened(spark, tmp_path):
    """The 100 TB pin: a zone-pruned file contributes ZERO partitions
    BEFORE any footer read — proven by a file whose container is
    corrupt but whose (valid, size-matching) sidecar excludes it: the
    query succeeds iff planning never touches the file's bytes."""
    import json as _json

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.datasource import STATS_SUFFIX

    d = str(tmp_path / "never")
    os.makedirs(d)
    write_file(os.path.join(d, "good.4mz"), b'{"k": 1, "v": 1.0}\n',
               codec="zstd")
    bad = os.path.join(d, "bad.4mz")
    with open(bad, "wb") as f:
        f.write(b"GARBAGE-NOT-A-4MC-CONTAINER" * 10)
    with open(bad + STATS_SUFFIX, "w") as f:
        _json.dump({"version": 1, "size": os.path.getsize(bad), "rows": 1,
                    "columns": {"k": {"min": 900, "max": 999, "nulls": 0}}},
                   f)
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL).load(d)
    rows = typed.filter(F.col("k") < 100).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, 1.0)]


def test_nullness_pushdown_prunes(spark, tmp_path):
    """IsNull / IsNotNull / null-safe-equality prune from the sidecar
    null counts: a file with NO non-null values drops under IsNotNull,
    one with zero nulls drops under IsNull; requiring both on one
    column plans nothing. Poison-grade proof: the pruned file's bytes
    are zeroed in place (size preserved), so the query succeeds iff
    planning never opened it."""
    import json as _json

    from pyspark.sql.datasource import (
        CaseInsensitiveDict, EqualNullSafe, IsNotNull, IsNull,
    )

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "nullness")
    os.makedirs(d)
    write_file(os.path.join(d, "allnull.4mz"),
               b'{"k": null, "name": "a"}\n{"k": null, "name": "b"}\n',
               codec="zstd")
    write_file(os.path.join(d, "nonull.4mz"),
               b'{"k": 7, "name": "z1"}\n{"k": 8, "name": "z2"}\n',
               codec="zstd")
    analyze_stats(spark, d, _ZM_DDL)
    schema = _parse_flat_ddl(_ZM_DDL)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": _ZM_DDL})

    def planned(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return {os.path.basename(p.path)
                for p in iter_slices(rd.partitions()) if p.path}

    assert planned([IsNotNull(("k",))]) == {"nonull.4mz"}
    assert planned([IsNull(("k",))]) == {"allnull.4mz"}
    assert planned([EqualNullSafe(("k",), None)]) == {"allnull.4mz"}
    assert planned([EqualNullSafe(("k",), 7)]) == {"nonull.4mz"}
    assert planned([IsNull(("k",)), IsNotNull(("k",))]) == set()
    # end-to-end: Spark pushes IsNotNull; the all-null file is zeroed
    # in place and must never be opened
    p = os.path.join(d, "allnull.4mz")
    sz = os.path.getsize(p)
    with open(p, "wb") as fh:
        fh.write(b"\x00" * sz)
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL).load(d)
    rows = sorted(r["k"] for r in typed.filter(F.col("k").isNotNull()).collect())
    assert rows == [7, 8]


def test_prefix_pushdown_prunes(spark, tmp_path):
    """StringStartsWith prunes via the string zone maps as the range
    [prefix, next_prefix(prefix)) — and _next_prefix handles the max
    code point and the surrogate boundary."""
    from pyspark.sql.datasource import CaseInsensitiveDict, StringStartsWith

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _next_prefix, _parse_flat_ddl,
    )

    assert _next_prefix("ab") == "ac"
    assert _next_prefix("a\U0010ffff") == "b"  # maxed tail: bump previous
    assert _next_prefix("\U0010ffff") is None  # nothing greater exists
    assert _next_prefix(chr(0xD7FF)) == chr(0xE000)  # skip surrogates

    d = str(tmp_path / "prefix")
    os.makedirs(d)
    write_file(os.path.join(d, "low.4mz"),
               b'{"k": 1, "name": "apple"}\n{"k": 2, "name": "axe"}\n',
               codec="zstd")
    write_file(os.path.join(d, "high.4mz"),
               b'{"k": 3, "name": "zebra"}\n{"k": 4, "name": "zoo"}\n',
               codec="zstd")
    analyze_stats(spark, d, _ZM_DDL)
    schema = _parse_flat_ddl(_ZM_DDL)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": _ZM_DDL})

    def planned(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return {os.path.basename(p.path)
                for p in iter_slices(rd.partitions()) if p.path}

    assert planned([StringStartsWith(("name",), "z")]) == {"high.4mz"}
    assert planned([StringStartsWith(("name",), "a")]) == {"low.4mz"}
    assert planned([StringStartsWith(("name",), "m")]) == set()
    # boundary exactness: every 'z*' row survives a real pruned query
    p = os.path.join(d, "low.4mz")
    sz = os.path.getsize(p)
    with open(p, "wb") as fh:
        fh.write(b"\x00" * sz)  # pruned file must never be opened
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL).load(d)
    rows = sorted(
        r["name"] for r in typed.filter(F.col("name").startswith("z")).collect()
    )
    assert rows == ["zebra", "zoo"]


def test_typed_scan_reads_both_date_representations(spark, tmp_path):
    """DATE columns read under BOTH supported NDJSON forms: ISO strings
    (the to_json pipeline) and epoch-day numbers (the only form Arrow's
    native date32 JSON parse accepts — data written that way predates
    the string-parse path and must keep reading)."""
    import datetime

    from fourmc_spark.format.writer import write_file

    ddl = "k bigint, d date"
    d_iso = str(tmp_path / "iso")
    os.makedirs(d_iso)
    write_file(os.path.join(d_iso, "a.4mz"),
               b'{"k": 1, "d": "2022-01-08"}\n{"k": 2, "d": null}\n',
               codec="zstd")
    rows = (spark.read.format("fourmc").option("jsonschema", ddl)
            .load(d_iso).orderBy("k").collect())
    assert [(r["k"], r["d"]) for r in rows] == [
        (1, datetime.date(2022, 1, 8)), (2, None)
    ]
    d_num = str(tmp_path / "num")
    os.makedirs(d_num)
    # 19000 epoch days == 2022-01-08
    write_file(os.path.join(d_num, "a.4mz"),
               b'{"k": 1, "d": 19000}\n{"k": 2, "d": null}\n',
               codec="zstd")
    rows = (spark.read.format("fourmc").option("jsonschema", ddl)
            .load(d_num).orderBy("k").collect())
    assert [(r["k"], r["d"]) for r in rows] == [
        (1, datetime.date(2022, 1, 8)), (2, None)
    ]


def test_typed_csv_scan_matches_from_csv(spark, tmp_path):
    """option('csvschema', ddl): Arrow-CSV-parsed typed columns equal
    the value-mode from_csv parse row for row — including quoted commas,
    backslash-escaped quotes, NULL empty fields, quoted-empty-as-NULL,
    and Z-suffixed timestamps."""
    d = str(tmp_path / "csvtyped")
    ddl = "k bigint, name string, v double, ts timestamp"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            F.concat(F.lit('n," q'), (F.col("id") % 7).cast("string"))
        ).alias("name"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id") * 0.5).alias("v"),
        F.timestamp_micros(
            F.lit(1700000000000000) + F.col("id") * 1000000
        ).alias("ts"),
    )
    (df.repartition(3)
       .select(F.to_csv(F.struct("k", "name", "v", "ts")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .mode("overwrite").save(d))
    typed = spark.read.format("fourmc").option("csvschema", ddl).load(d)
    assert typed.schema.simpleString() == (
        "struct<k:bigint,name:string,v:double,ts:timestamp>"
    )
    ref = (spark.read.format("fourmc").load(d)
           .select(F.from_csv("value", ddl).alias("r")).select("r.*"))
    assert typed.count() == 300
    assert typed.exceptAll(ref).count() == 0
    assert ref.exceptAll(typed).count() == 0
    # jsonschema and csvschema are mutually exclusive
    import pytest as _pytest
    with _pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("fourmc").option("csvschema", ddl)
         .option("jsonschema", ddl).load(d).count())


def test_csv_analyze_agrees_with_scan_on_escape_divergence(spark, tmp_path):
    """ANALYZE-CSV builds sidecars THROUGH the typed scan (withoffset
    provenance), so even on data where Arrow's CSV parse diverges from
    from_csv (a backslash in an UNQUOTED field), the blooms/zone maps
    hash exactly the values the scan yields — a point probe for the
    scan's own value must never be falsely pruned."""
    import glob as _glob

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats

    d = str(tmp_path / "csvesc")
    os.makedirs(d)
    ddl = "k bigint, name string, v double"
    # unquoted backslash: Arrow reads 'ab' (escape), from_csv reads 'a\\b'
    write_file(os.path.join(d, "a.4mz"), b'1,a\\b,0.5\n2,plain,1.0\n',
               codec="zstd")
    analyze_stats(spark, d, ddl, record_format="csv")
    analyze_bloom(spark, d, ddl, ["name"], bits=1 << 10, k=3,
                  record_format="csv")
    typed = spark.read.format("fourmc").option("csvschema", ddl).load(d)
    scan_val = sorted(r["name"] for r in typed.collect())[0]  # 'ab'
    assert scan_val == "ab"
    # probing the SCAN's value must hit (the sidecar hashed 'ab' too);
    # a from_csv-built bloom would only hold 'a\\b' and falsely prune
    typed2 = spark.read.format("fourmc").option("csvschema", ddl).load(d)
    assert typed2.filter(F.col("name") == "ab").count() == 1
    meta = __import__("json").load(
        open(sorted(_glob.glob(f"{d}/*.stats.json"))[0])
    )
    assert meta["columns"]["name"]["min"] == "ab"  # scan's text, sealed


def test_typed_csv_single_column_empty_lines(spark, tmp_path):
    """The 1-column degenerate case: the all-null placeholder is the
    EMPTY line itself, which ignore_empty_lines=False parses as one
    null field — matching from_csv exactly."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "csv1")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b"5\n\n7\n", codec="zstd")
    got = [
        r["k"]
        for r in spark.read.format("fourmc")
        .option("csvschema", "k bigint").load(d)
        .orderBy(F.col("k").asc_nulls_first()).collect()
    ]
    assert got == [None, 5, 7]
    # a NULL row as the buffer's FINAL line must not vanish (Arrow
    # doesn't count a trailing EMPTY line — the placeholder is the
    # quoted empty '""' precisely so the last line is never empty)
    d2 = str(tmp_path / "csv1t")
    os.makedirs(d2)
    write_file(os.path.join(d2, "a.4mz"), b"5\n\n", codec="zstd")
    got = [
        r["k"]
        for r in spark.read.format("fourmc")
        .option("csvschema", "k bigint").load(d2)
        .orderBy(F.col("k").asc_nulls_first()).collect()
    ]
    assert got == [None, 5]


def test_csv_sidecar_tiers_and_sink_seal(spark, tmp_path):
    """The full sidecar surface on CSV lines: write-time seal via
    statsformat=csv (+bloomcolumns), ANALYZE twins via
    record_format='csv', zone/bloom pruning exact under poisoned
    non-matching files."""
    import glob as _glob
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats

    d = str(tmp_path / "csvsc")
    ddl = _ZM_DDL  # k bigint, name string, v double
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartitionByRange(4, "k")
       .select(F.to_csv(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("statsschema", ddl).option("statsformat", "csv")
       .option("bloomcolumns", "name")
       .mode("overwrite").save(d))
    meta = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    assert set(meta["columns"]) == {"k", "name", "v"}
    assert set(meta["bloom"]) == {"name"}
    # ANALYZE twins re-seal (two-tier + file blooms) from CSV lines
    analyze_stats(spark, d, ddl, record_format="csv")
    analyze_bloom(spark, d, ddl, ["k"], bits=1 << 14, k=5,
                  record_format="csv")
    per_file = {
        r["_file"]: (r["mn"], r["mx"])
        for r in spark.read.format("fourmc").option("csvschema", ddl)
        .option("withfilename", "true").load(d)
        .groupBy("_file")
        .agg(F.min("k").alias("mn"), F.max("k").alias("mx")).collect()
    }
    for f, (mn, mx) in per_file.items():
        if mn >= 200:  # provably outside the range query: zero in place
            sz = os.path.getsize(f)
            with open(f, "wb") as fh:
                fh.write(b"\x00" * sz)
    got = (spark.read.format("fourmc").option("csvschema", ddl).load(d)
           .filter(F.col("k") < 200).agg(F.sum("k").alias("s")).first()["s"])
    assert got == sum(range(200))
    got2 = (spark.read.format("fourmc").option("csvschema", ddl).load(d)
            .filter(F.col("k").isin([5, 77])).count())
    assert got2 == 2
    # statsformat validation
    import pytest as _pytest
    base = df.select(F.to_csv(F.struct("k", "name", "v")).alias("value"))
    with _pytest.raises(Exception, match="statsformat"):
        (base.write.format("fourmc").option("statsschema", ddl)
         .option("statsformat", "xml")
         .mode("overwrite").save(str(tmp_path / "x")))


def test_typed_scan_rejects_nested_ddl(spark):
    from fourmc_spark.sources.datasource import _parse_flat_ddl

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported type"):
        _parse_flat_ddl("a array<int>")
    with _pytest.raises(ValueError, match="unsupported type"):
        _parse_flat_ddl("a decimal(10,2)")  # comma splits the params
    with _pytest.raises(ValueError, match="name type"):
        _parse_flat_ddl("a struct<b: int>")


def test_typed_scan_parses_only_declared_fields(spark, tmp_path):
    """The jsonschema DDL IS the projection: fields outside it are
    skipped by the parser (unexpected_field_behavior=ignore), never
    inferred or materialized — a payload field that could not parse
    under any numeric type must not disturb a scan that excludes it.
    (Spark's Python DataSource API does not push column pruning into
    the reader, so narrowing the DDL is the supported pruning lever.)"""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "colprune")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"),
               b'{"k": 1, "name": "x", "v": "boom", "extra": [1,2]}\n',
               codec="zstd")
    typed = (spark.read.format("fourmc")
             .option("jsonschema", "k bigint, name string").load(d))
    rows = typed.collect()
    assert [(r["k"], r["name"]) for r in rows] == [(1, "x")]


def test_block_zone_maps_prune_within_file(spark, tmp_path):
    """Block tier of the zone map: analyze_stats(blocks=True) records
    per-block min/max keyed by the block offset the scan exposes, and
    the planner skips non-matching blocks INSIDE kept files. Line
    spillover across a dropped block boundary must not lose or
    duplicate rows (the split reader streams past a partition end to
    finish lines it owns)."""
    import json as _json

    from pyspark.sql.datasource import (
        CaseInsensitiveDict, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "bzm")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartitionByRange(2, "k").sortWithinPartitions("k")
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 4096).mode("overwrite").save(d))
    res = analyze_stats(spark, d, _ZM_DDL)
    assert res["files"] == 2 and res["rows"] == 4000 and res["block_stats"]
    import glob as _glob
    sc = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    assert sc["version"] == 2 and len(sc["blocks"]) > 4
    assert all(len(b["c"]["k"]) == 3 for b in sc["blocks"])

    schema = _parse_flat_ddl(_ZM_DDL)
    opts = CaseInsensitiveDict(
        {"path": d, "jsonschema": _ZM_DDL, "maxblockspersplit": "1"}
    )
    full = [p for p in iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())
            if p.path]
    rd = FourMcDataSourceReader(opts, schema)
    list(rd.pushFilters([GreaterThanOrEqual(("k",), 1000),
                         LessThan(("k",), 1200)]))
    pruned = [p for p in iter_slices(rd.partitions()) if p.path]
    # one file is zone-pruned entirely; inside the other only the few
    # blocks whose [min,max] overlaps [1000,1200) survive
    assert 0 < len(pruned) <= len(full) // 4, (len(pruned), len(full))
    # and the real query is exact across dropped-block boundaries
    typed = spark.read.format("fourmc").option("jsonschema", _ZM_DDL) \
                 .option("maxblockspersplit", "1").load(d)
    got = typed.filter((F.col("k") >= 1000) & (F.col("k") < 1200)) \
               .agg(F.sum("k").alias("s"), F.count("*").alias("n")).first()
    assert (got["s"], got["n"]) == (sum(range(1000, 1200)), 200)


def test_analyze_stats_blocks_false_writes_v2_without_blocks(spark, tmp_path):
    import glob as _glob
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "noblocks")
    _write_zm_tree(spark, d, n_files=2)
    res = analyze_stats(spark, d, _ZM_DDL, blocks=False)
    assert res["block_stats"] is False
    sc = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    assert "blocks" not in sc
    assert set(sc["columns"]) == {"k", "name", "v"}


def test_zone_maps_compose_with_hive_partition_pruning(spark, tmp_path):
    """All three file-pruning tiers stack: hive partition values (path),
    zone maps (content), and block stats (within file) — applied to a
    partitionby tree where every tier removes something."""
    import json as _json

    from pyspark.sql.datasource import (
        CaseInsensitiveDict, EqualTo, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "compose")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
        (F.col("id") % 2).cast("string").alias("side"),
    )
    (df.repartitionByRange(4, "k").sortWithinPartitions("k")
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"), "side")
       .write.format("fourmc").option("codec", "zstd")
       .option("partitionby", "side").mode("overwrite").save(d))
    res = analyze_stats(spark, d, _ZM_DDL)
    assert res["files"] == 8  # 4 range buckets x 2 hive sides

    schema_full = _parse_flat_ddl(_ZM_DDL)
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType(
        list(schema_full.fields) + [StructField("side", StringType())]
    )
    opts = CaseInsensitiveDict(
        {"path": d, "jsonschema": _ZM_DDL, "partitioncolumns": "side"}
    )
    full = [p for p in iter_slices(
        FourMcDataSourceReader(opts, schema).partitions())
            if p.path]
    rd = FourMcDataSourceReader(opts, schema)
    list(rd.pushFilters([
        EqualTo(("side",), "1"),
        GreaterThanOrEqual(("k",), 500), LessThan(("k",), 1000),
    ]))
    pruned = [p for p in iter_slices(rd.partitions()) if p.path]
    assert pruned and len(pruned) < len(full)
    assert all("side=1" in p.path for p in pruned)
    # the real query through both prunings stays exact
    typed = (spark.read.format("fourmc").option("jsonschema", _ZM_DDL)
             .option("partitioncolumns", "side").load(d)
             .where((F.col("side") == "1")
                    & (F.col("k") >= 500) & (F.col("k") < 1000)))
    got = typed.agg(F.sum("k").alias("s"), F.count("*").alias("n")).first()
    assert (got["s"], got["n"]) == (sum(x for x in range(500, 1000) if x % 2), 250)


def test_typed_payload_column_named_offset_is_not_hijacked(spark, tmp_path):
    """In typed mode a payload field named 'offset' is an ordinary
    zone-map column; review finding r9: it used to route into the
    COMPRESSED-byte block pruning and silently drop matching rows."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "offcol")
    os.makedirs(d)
    body = b"".join(b'{"offset": %d, "msg": "m%d"}\n' % (i, i)
                    for i in range(1000))
    write_file(os.path.join(d, "a.4mz"), body, codec="zstd",
               block_size=2048)
    t = (spark.read.format("fourmc")
         .option("jsonschema", "offset bigint, msg string").load(d))
    got = t.filter(F.col("offset") >= 100).count()
    assert got == 900


def test_typed_scan_blank_lines_parse_as_null_rows(spark, tmp_path):
    """Blank payload lines (how the sink writes NULL values) must come
    back as all-null rows exactly like from_json('') — not be skipped
    by Arrow's reader, and an all-blank block must not crash."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "blanks")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b'{"k": 1}\n\n{"k": 2}\n\n\n',
               codec="zstd")
    write_file(os.path.join(d, "b.4mz"), b"\n\n", codec="zstd")
    typed = (spark.read.format("fourmc").option("jsonschema", _ZM_DDL)
             .load(d))
    ref = (spark.read.format("fourmc").load(d)
           .select(F.from_json("value", _ZM_DDL).alias("r")).select("r.*"))
    assert typed.count() == ref.count() == 7
    assert typed.filter(F.col("k").isNull()).count() == 5
    # and the null-value roundtrip through the SINK composes: the sink
    # writes a NULL value as an empty line, and a typed scan of its
    # output still sees every row
    out = str(tmp_path / "blanks_out")
    (spark.createDataFrame([('{"k":7}',), (None,), ('{"k":8}',)],
                           "value string")
     .coalesce(1).write.format("fourmc").mode("overwrite").save(out))
    t2 = (spark.read.format("fourmc")
          .option("jsonschema", "k bigint").load(out))
    assert t2.count() == 3
    assert t2.filter(F.col("k").isNull()).count() == 1


def test_schema_rejects_colliding_column_names(spark, tmp_path):
    d = str(tmp_path / "collide")
    _write_zm_tree(spark, d, n_files=1)
    with pytest.raises(Exception, match="duplicate column names"):
        (spark.read.format("fourmc")
         .option("jsonschema", "k bigint, _file string")
         .option("withfilename", "true").load(d).count())


def test_analyze_stats_exact_above_2_53_and_offset_field(spark, tmp_path):
    """Two review findings r9: (1) int64 min/max must survive the
    pandas boundary exactly even when another block is all-null for
    the column (float64 coercion rounds above 2^53 and a rounded-down
    max wrongly prunes the file holding the true max); (2) a payload
    field named 'offset' must not collide with the scan pseudo-column
    during analysis — in NDJSON and in CSV."""
    import glob as _glob
    import json as _json

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats

    big = (1 << 53) + 1
    ddl = "k bigint, offset bigint"
    for fmt, opt, null_line, big_line in (
        ("json", "jsonschema", b'{"k": null, "offset": 1}\n',
         b'{"k": %d, "offset": 2}\n' % big),
        ("csv", "csvschema", b",1\n", b"%d,2\n" % big),
    ):
        d = str(tmp_path / f"bigint_{fmt}")
        os.makedirs(d)
        # two blocks: one all-null for k (forces float64 coercion pre-fix)
        write_file(os.path.join(d, "a.4mz"), null_line * 40 + big_line,
                   codec="zstd", block_size=256)
        res = analyze_stats(spark, d, ddl, record_format=fmt)
        assert res["files"] == 1
        sc = _json.load(open(_glob.glob(f"{d}/*.stats.json")[0]))
        assert sc["columns"]["k"]["max"] == big, fmt  # exact, not 2^53
        assert sc["columns"]["offset"]["max"] == 2, fmt
        # the zone map built this way never prunes the true-max row
        t = spark.read.format("fourmc").option(opt, ddl).load(d)
        assert t.filter(F.col("k") == big).count() == 1, fmt


def test_spark_readinfo_cache_hazard_characterized(spark, tmp_path):
    """Spark 4.1.2 caches one readInfo per Python-DataSource relation
    (PythonDataSourceV2.getOrCreateReadInfo): after a FILTERED action
    on a base load() DataFrame, a later action on the SAME DataFrame
    with fewer filters skips the pushdown re-plan and reuses the
    pruned scan. This pins the hazard (so a Spark upgrade that fixes
    it shows up as a failing assertion to relax), the safe patterns,
    and the pushdown=false escape hatch."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "readinfo")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"),
               b"".join(b"line-%d\n" % i for i in range(5000)),
               codec="zstd", block_size=1024)

    # fresh load per query: always correct
    assert spark.read.format("fourmc").load(d).count() == 5000

    # the hazard: base DataFrame reused across differing filter sets
    base = spark.read.format("fourmc").load(d)
    assert base.count() == 5000                     # unfiltered plans fine
    assert base.filter(F.col("offset") > 10**9).count() == 0  # re-plans
    stale = base.count()                            # reuses PRUNED scan
    assert stale == 0, (
        "Spark now re-plans python-datasource scans per query — "
        "readInfo cache hazard fixed upstream; relax this pin and the "
        "pushdown=false guidance"
    )

    # safe pattern 1: one DataFrame per filter set
    fixed = spark.read.format("fourmc").load(d).filter(
        F.col("offset") <= 10**9
    )
    assert fixed.count() == 5000 and fixed.count() == 5000

    # safe pattern 2 (escape hatch): pushdown=false never prunes, so
    # reuse with varying filters stays correct (post-scan filters only)
    nopd = spark.read.format("fourmc").option("pushdown", "false").load(d)
    assert nopd.filter(F.col("offset") > 10**9).count() == 0
    assert nopd.count() == 5000


def test_sink_statsschema_writes_sidecars(spark, tmp_path):
    """option('statsschema', ddl) on the sink: every sealed file gets a
    file-tier zone map computed from the exact rows it received — equal
    to what a post-hoc ANALYZE would record, with no second pass."""
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "ss")
    df = spark.range(400).select(
        F.to_json(F.struct(
            F.col("id").alias("k"),
            F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
            (F.col("id") * 0.5).alias("v"),
        )).alias("value")
    )
    (df.repartitionByRange(3, "value").write.format("fourmc")
       .option("codec", "zstd").option("statsschema", _ZM_DDL)
       .mode("overwrite").save(d))
    sidecars = sorted(glob.glob(f"{d}/*.stats.json"))
    assert len(sidecars) == 3
    sink_stats = {p: _json.load(open(p)) for p in sidecars}
    for p, sc in sink_stats.items():
        assert sc["size"] == os.path.getsize(p[: -len(".stats.json")])
    # a fresh ANALYZE (file tier) agrees exactly
    analyze_stats(spark, d, _ZM_DDL, blocks=False)
    for p, sc in sink_stats.items():
        fresh = _json.load(open(p))
        assert fresh["rows"] == sc["rows"]
        assert fresh["columns"] == sc["columns"]
    # null values (empty lines) stat as all-null rows
    d2 = str(tmp_path / "ss_null")
    (spark.createDataFrame([('{"k":1}',), (None,), ('{"k":3}',)],
                           "value string")
     .coalesce(1).write.format("fourmc")
     .option("statsschema", "k bigint").mode("overwrite").save(d2))
    sc2 = _json.load(open(glob.glob(f"{d2}/*.stats.json")[0]))
    assert sc2["rows"] == 3
    assert sc2["columns"]["k"] == {"min": 1, "max": 3, "nulls": 1}


def test_sink_statsschema_with_rolling_and_partitionby(spark, tmp_path):
    import json as _json

    d = str(tmp_path / "ss_roll")
    df = spark.range(12000).select(
        F.col("id").alias("k"),
        F.to_json(F.struct(
            F.col("id").alias("k"),
            F.lit("x").alias("name"),
            (F.col("id") * 1.0).alias("v"),
        )).alias("value"),
        (F.col("id") % 2).cast("string").alias("side"),
    )
    (df.coalesce(1).sortWithinPartitions("k").drop("k")
       .write.format("fourmc").option("codec", "zstd")
       .option("statsschema", _ZM_DDL)
       .option("partitionby", "side")
       .option("blocksize", 1024).option("maxfilebytes", 2048)
       .mode("overwrite").save(d))
    data_files = sorted(
        p for p in glob.glob(f"{d}/side=*/*.4mz")
    )
    assert len(data_files) > 4  # rolled
    total_rows = 0
    for p in data_files:
        sc = _json.load(open(p + ".stats.json"))
        assert sc["size"] == os.path.getsize(p)
        total_rows += sc["rows"]
        assert sc["columns"]["k"]["min"] is not None
    assert total_rows == 12000
    # immediate pruning over the sink-written sidecars stays exact
    typed = (spark.read.format("fourmc").option("jsonschema", _ZM_DDL)
             .option("partitioncolumns", "side").load(d)
             .where((F.col("k") >= 1000) & (F.col("k") < 1100)))
    assert typed.count() == 100


def test_stream_sink_statsschema_sidecars(spark, tmp_path):
    """The streaming sink inherits statsschema through the batch task
    body: each sealed micro-batch file gets a sidecar under its
    deterministic committed name, and a no-op replay discards the
    replay attempt's staged sidecars."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.sources.stream import FourMcStreamWriter

    out = str(tmp_path / "ss_stream")
    os.makedirs(out)
    schema = StructType([StructField("value", StringType())])
    rows = ['{"k": %d}' % i for i in range(100)]

    def attempt():
        w = FourMcStreamWriter(
            CaseInsensitiveDict({"path": out, "codec": "zstd",
                                 "statsschema": "k bigint"}),
            schema, overwrite=False,
        )
        msg = w.write(iter([pa.RecordBatch.from_pydict({"value": rows})]))
        w.commit([msg], batchId=3)

    attempt()
    data = glob.glob(f"{out}/part-b*.4mz")
    assert len(data) == 1
    sc = _json.load(open(data[0] + ".stats.json"))
    assert sc["rows"] == 100
    assert sc["columns"]["k"] == {"min": 0, "max": 99, "nulls": 0}
    assert sc["size"] == os.path.getsize(data[0])
    before = sorted(os.listdir(out))
    attempt()  # replay no-ops; staged file AND sidecar discarded
    assert sorted(os.listdir(out)) == before
    assert not os.path.exists(os.path.join(out, "_temporary"))


# ---------------------------------------------------------------------------
# Temporal zone maps (r10): timestamp/date pushdown + NaN conservativeness
# ---------------------------------------------------------------------------

_TZM_DDL = "ts timestamp, tsn timestamp_ntz, d date, x double, k bigint"


def _write_tzm_tree(spark, d: str):
    """Two files with disjoint temporal ranges (Jan vs Jun 2024); the
    Jan file carries a NaN double."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    jan = spark.sql("""select * from values
      (timestamp'2024-01-02 03:04:05.123', timestamp_ntz'2024-01-02 03:04:05',
       date'2024-01-15', cast('NaN' as double), 1L),
      (timestamp'2024-01-05 00:00:00', timestamp_ntz'2024-01-05 00:00:00',
       date'2024-01-20', 2.5, 2L)
      as t(ts, tsn, d, x, k)""")
    jun = spark.sql("""select * from values
      (timestamp'2024-06-02 03:04:05', timestamp_ntz'2024-06-02 03:04:05',
       date'2024-06-15', 7.5, 3L),
      (timestamp'2024-06-09 00:00:00', timestamp_ntz'2024-06-09 00:00:00',
       date'2024-06-20', 9.5, 4L)
      as t(ts, tsn, d, x, k)""")
    for i, df in ((0, jan), (1, jun)):
        (df.select(F.to_json(F.struct("ts", "tsn", "d", "x", "k"))
                   .alias("value"))
           .coalesce(1).write.format("fourmc").option("codec", "zstd")
           .mode("overwrite" if i == 0 else "append").save(d))


def _tzm_planned(d, filters):
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    rd = FourMcDataSourceReader(
        CaseInsensitiveDict({"path": d, "jsonschema": _TZM_DDL}),
        _parse_flat_ddl(_TZM_DDL),
    )
    list(rd.pushFilters(filters))
    return {p.path for p in iter_slices(rd.partitions()) if p.path}


def test_typed_scan_temporal_and_special_float_matches_from_json(
    spark, tmp_path
):
    """timestamp/timestamp_ntz/date typed columns and quoted
    NaN/Infinity doubles (Spark to_json's serialization) must parse
    identically to the value-mode from_json oracle. The date typed scan
    and non-finite doubles were unreadable before r10 (ArrowInvalid)."""
    d = str(tmp_path / "tzm_scan")
    _write_tzm_tree(spark, d)
    typed = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
             .load(d))
    ref = (
        spark.read.format("fourmc").load(d)
        .select(F.from_json("value", _TZM_DDL).alias("r")).select("r.*")
    )
    assert typed.count() == 4
    assert typed.exceptAll(ref).count() == 0
    assert ref.exceptAll(typed).count() == 0


def test_zone_pruning_timestamp_date_bounds(spark, tmp_path):
    """analyze_stats records TimestampType stats as epoch micros and
    temporal ISO strings for ntz/date; the pushdown canonicalizes the
    aware/naive/date filter values VariantVal delivers, and pruning
    holds at equality boundaries."""
    import datetime as dt

    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, LessThan, LessThanOrEqual,
    )

    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "tzm")
    _write_tzm_tree(spark, d)
    analyze_stats(spark, d, _TZM_DDL)
    import json as _json
    scs = sorted(glob.glob(f"{d}/*.stats.json"))
    assert len(scs) == 2
    metas = [_json.load(open(s)) for s in scs]
    ts_mins = sorted(m["columns"]["ts"]["min"] for m in metas)
    # 2024-01-02T03:04:05.123Z / 2024-06-02T03:04:05Z as epoch micros
    assert ts_mins == [1704164645123000, 1717297445000000]

    utc = dt.timezone.utc
    full = _tzm_planned(d, [])
    assert len(full) == 2
    # TimestampType: aware-UTC bound (what VariantVal.toPython yields)
    feb = dt.datetime(2024, 2, 1, tzinfo=utc)
    kept = _tzm_planned(d, [LessThan(("ts",), feb)])
    assert len(kept) == 1 and kept < full
    assert _tzm_planned(d, [GreaterThanOrEqual(("ts",), feb)]) < full
    # equality boundary: <= exact max of the Jan file keeps it
    jan_max = dt.datetime(2024, 1, 5, tzinfo=utc)
    assert len(_tzm_planned(d, [LessThanOrEqual(("ts",), jan_max)])) == 1
    # ...but < exact min of everything prunes all
    jan_min = dt.datetime(2024, 1, 2, 3, 4, 5, 123000, tzinfo=utc)
    assert _tzm_planned(d, [LessThan(("ts",), jan_min)]) == set()
    assert len(_tzm_planned(d, [EqualTo(("ts",), jan_min)])) == 1
    # TimestampNTZ: naive bound vs ISO-string stats (parsed, not lexic)
    assert len(_tzm_planned(
        d, [LessThan(("tsn",), dt.datetime(2024, 2, 1))]
    )) == 1
    assert len(_tzm_planned(
        d, [LessThanOrEqual(("tsn",), dt.datetime(2024, 1, 5))]
    )) == 1
    # DateType: date bound vs ISO date strings
    assert len(_tzm_planned(d, [LessThan(("d",), dt.date(2024, 3, 1))])) == 1
    assert _tzm_planned(d, [LessThan(("d",), dt.date(2024, 1, 15))]) == set()
    assert len(_tzm_planned(d, [EqualTo(("d",), dt.date(2024, 6, 15))])) == 1
    # pruning never changes a real query's results
    typed = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
             .load(d))
    got = typed.filter(F.col("ts") < "2024-02-01").orderBy("k").collect()
    assert [r["k"] for r in got] == [1, 2]


def test_zone_ts_conservative_on_wall_clock_string_sidecar(spark, tmp_path):
    """An OLD-format sidecar stores TimestampType stats as wall-clock
    ISO strings (session-tz-ambiguous); an instant bound must treat
    them as incomparable and KEEP the file."""
    import datetime as dt
    import json as _json

    from pyspark.sql.datasource import LessThan

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.datasource import STATS_SUFFIX

    d = str(tmp_path / "tzm_old")
    os.makedirs(d)
    p = os.path.join(d, "a.4mz")
    write_file(p, b'{"ts": "2024-06-02T03:04:05Z", "k": 3}\n', codec="zstd")
    with open(p + STATS_SUFFIX, "w") as f:
        _json.dump({"version": 2, "size": os.path.getsize(p), "rows": 1,
                    "columns": {"ts": {"min": "2024-06-02 03:04:05",
                                       "max": "2024-06-09 00:00:00",
                                       "nulls": 0}}}, f)
    feb = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
    assert len(_tzm_planned(d, [LessThan(("ts",), feb)])) == 1  # kept


def test_sink_and_analyze_stats_zone_maps_agree(spark, tmp_path):
    """The sink's write-time zone maps (Arrow parse) and analyze_stats'
    JVM aggregation describe the same rows of the same files, so their
    file tiers must be identical: ints, strings, doubles with NaN (and a
    file whose doubles are all NaN), zone-suffixed timestamps,
    timestamp_ntz, dates, null fields, a column with no non-null value
    and a NULL value line."""
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats

    ddl = _TZM_DDL + ", s string"
    _write_tzm_tree(spark, str(tmp_path / "src"))
    cols = ("ts", "tsn", "d", "x", "k", "s")
    tzm = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
           .load(str(tmp_path / "src"))
           .withColumn("s", F.concat(F.lit("s"), F.col("k").cast("string"))))
    nan_only = spark.sql("""select * from values
      (timestamp'2024-03-01 00:00:00.5', null, date'2024-03-02',
       cast('NaN' as double), null, 'zeta'),
      (null, timestamp_ntz'2024-03-03 01:02:03.000004', null,
       cast('NaN' as double), 9L, 'ünï ✓'),
      (null, null, null, cast('NaN' as double), null, null)
      as t(ts, tsn, d, x, k, s)""")
    sparse = spark.sql("""select * from values
      (null, null, null, -0.5, -7L, '')
      as t(ts, tsn, d, x, k, s)""")
    d = str(tmp_path / "agree")
    for i, df in enumerate((tzm, nan_only, sparse)):
        lines = df.select(F.to_json(F.struct(*cols)).alias("value"))
        if df is sparse:  # a NULL value writes an empty line
            lines = lines.unionByName(
                spark.sql("select cast(null as string) as value")
            )
        (lines.coalesce(1).write.format("fourmc").option("codec", "zstd")
         .option("statsschema", ddl)
         .mode("append" if i else "overwrite").save(d))
    paths = sorted(glob.glob(f"{d}/*.stats.json"))
    sink = {p: _json.load(open(p)) for p in paths}
    assert len(sink) == 3 and sum(m["rows"] for m in sink.values()) == 9
    analyze_stats(spark, d, ddl, blocks=False)
    for p in paths:
        jvm = _json.load(open(p))
        for key in ("rows", "columns"):
            assert _json.dumps(sink[p][key], sort_keys=True) == \
                _json.dumps(jvm[key], sort_keys=True), (p, key)


def test_analyze_stats_exact_under_non_utc_session(spark, tmp_path):
    """analyze_stats reads through the jsonschema scan's own reader, so
    under America/Los_Angeles, zone-less timestamp text in two files:
    every file- and block-tier ts min/max equals unix_micros of the
    jsonschema scan's rows (which read zone-less text as UTC, whatever
    the session timezone; a partial that tagged the values with the
    session timezone would be off by its offset), and a ts >= instant
    filter keeps exactly the right rows, the other file pruned. (The
    two files lie months apart.)"""
    import datetime as dt
    import json as _json

    from pyspark.sql.datasource import CaseInsensitiveDict, GreaterThanOrEqual

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import FourMcDataSourceReader

    ddl = "ts timestamp, k bigint"
    d = str(tmp_path / "la")
    os.makedirs(d)
    for name, month, ks in (("jan.4mz", 1, range(1, 7)),
                            ("jun.4mz", 6, range(7, 11))):
        lines = [_json.dumps({"ts": f"2024-{month:02d}-{k:02d} "
                                    f"{k:02d}:04:05.{k:03d}", "k": k})
                 for k in ks]
        write_file(os.path.join(d, name), ("\n".join(lines) + "\n").encode(),
                   codec="zstd", block_size=128)
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/Los_Angeles")
    try:
        analyze_stats(spark, d, ddl)
        rows = (
            spark.read.format("fourmc").option("jsonschema", ddl)
            .option("withoffset", "true").option("withfilename", "true")
            .load(d)
            .select("_file", "offset", F.unix_micros("ts").alias("us"))
            .collect()
        )
        typed = (spark.read.format("fourmc").option("jsonschema", ddl)
                 .load(d))
        late = typed.filter(
            F.col("ts") >= F.lit("2024-03-01 00:00:00").cast("timestamp")
        ).collect()
    finally:
        spark.conf.set(tz_key, prev)
    by_file, by_block = {}, {}
    for r in rows:
        by_file.setdefault(r["_file"], []).append(r["us"])
        by_block.setdefault((r["_file"], r["offset"]), []).append(r["us"])
    assert len(by_file) == 2 and len(by_block) > 2
    for f, us in by_file.items():
        meta = _json.load(open(f + ".stats.json"))
        z = meta["columns"]["ts"]
        assert (z["min"], z["max"], z["nulls"]) == (min(us), max(us), 0)
        for e in meta["blocks"]:
            bus = by_block[(f, e["o"])]
            assert e["c"]["ts"] == [min(bus), max(bus), 0]
    # the scan reads 2024-01-01 01:04:05.001 as UTC
    assert min(min(us) for us in by_file.values()) == 1704071045001000
    assert sorted(r["k"] for r in late) == [7, 8, 9, 10]
    rd = FourMcDataSourceReader(
        CaseInsensitiveDict({"path": d, "jsonschema": ddl}),
        typed.schema,
    )
    mar = dt.datetime(2024, 3, 1, 8, tzinfo=dt.timezone.utc)
    list(rd.pushFilters([GreaterThanOrEqual(("ts",), mar)]))
    kept = {p.path for p in iter_slices(rd.partitions()) if p.path}
    assert {os.path.basename(p) for p in kept} == {"jun.4mz"}


def test_analyze_stats_keeps_zoneless_row_under_non_utc_session(
    spark, tmp_path
):
    """The sidecar holds the jsonschema scan's reading of zone-less
    timestamp text: under America/Los_Angeles, an upper bound that the
    scan's row meets keeps returning it after analyze_stats, instead of
    being pruned by a zone map sealed from the session's reading (hours
    later)."""
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats

    ddl = "ts timestamp"
    d = str(tmp_path / "la1")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b'{"ts": "2024-01-02 03:04:05"}\n',
               codec="zstd")
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/Los_Angeles")

    def _hits():
        return (spark.read.format("fourmc").option("jsonschema", ddl).load(d)
                .filter("ts <= timestamp'2024-01-01 20:00:00'").count())

    try:
        before = _hits()
        analyze_stats(spark, d, ddl)
        after = _hits()
    finally:
        spark.conf.set(tz_key, prev)
    assert before == after == 1


@pytest.mark.parametrize("ext", ["zst", "lz4_fast"])
def test_analyze_seals_file_tier_only_for_unindexed_containers(
    spark, tmp_path, ext
):
    """A container without a footer index is read whole, one slice a
    file, and its lines' offsets are stream positions, not blocks: the
    zone and bloom builds seal its file tier only (no one-line "blocks"
    or "bloom_blocks" entries), and the scan still prunes by it."""
    import json as _json

    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo

    from fourmc_spark.format.hadoop_stream import write_hadoop_file
    from fourmc_spark.format.writer import write_zst_file
    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats
    from fourmc_spark.sources.datasource import (
        STATS_SUFFIX, FourMcDataSourceReader, _parse_flat_ddl,
    )

    d = str(tmp_path / "unindexed")
    os.makedirs(d)
    p = os.path.join(d, f"a.{ext}")
    data = b"".join(b'{"k": %d}\n' % i for i in range(2000))
    if ext == "zst":
        write_zst_file(p, data)
    else:
        write_hadoop_file(p, data, "lz4", block_size=1000)
    ddl = "k bigint"
    assert analyze_stats(spark, d, ddl)["rows"] == 2000
    analyze_bloom(spark, d, ddl, ["k"], bits=1 << 14, block_bits=1 << 10)
    meta = _json.load(open(p + STATS_SUFFIX))
    assert meta["columns"]["k"] == {"min": 0, "max": 1999, "nulls": 0}
    assert "bloom" in meta
    assert "blocks" not in meta and "bloom_blocks" not in meta
    rd = FourMcDataSourceReader(
        CaseInsensitiveDict({"path": d, "jsonschema": ddl}),
        _parse_flat_ddl(ddl),
    )
    list(rd.pushFilters([EqualTo(("k",), 5000)]))
    assert [p for p in iter_slices(rd.partitions()) if p.path] == []
    typed = spark.read.format("fourmc").option("jsonschema", ddl).load(d)
    assert typed.filter(F.col("k") == 1234).count() == 1


def test_analyze_stats_malformed_line_raises_and_seals_nothing(
    spark, tmp_path
):
    """A line the typed scan cannot parse fails analyze_stats with the
    scan's own error, and no sidecar is sealed for data the pruning scan
    cannot read. The error is the same typed ValueError naming the
    value-mode + from_json fallback whether or not the schema declares
    a float column (which adds a quoted-NaN retry)."""
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "bad")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"),
               b'{"k": 1}\n{"k": 2\n{"k": 3}\n', codec="zstd")
    # raised in the task, so Spark wraps it
    err = r"ValueError: fourmc jsonschema: typed parse failed.*from_json"
    for ddl in ("k bigint", "k bigint, x double"):
        with pytest.raises(Exception, match=err):
            spark.read.format("fourmc").option("jsonschema", ddl) \
                .load(d).collect()
        with pytest.raises(Exception, match=err):
            analyze_stats(spark, d, ddl)
        assert glob.glob(f"{d}/*.stats.json") == []


def test_zone_nan_double_never_prunes_matching_rows(spark, tmp_path):
    """Spark orders NaN ABOVE every double, so x >= k MATCHES NaN rows:
    a span containing NaN must never be pruned by a lower bound — for
    sidecars written by analyze_stats AND by the statsschema sink."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "nanzm")
    _write_tzm_tree(spark, d)  # Jan file: x = {NaN, 2.5}
    analyze_stats(spark, d, _TZM_DDL)
    kept = _tzm_planned(d, [GreaterThanOrEqual(("x",), 100.0)])
    assert len(kept) == 1 and "part-" in next(iter(kept))
    typed = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
             .load(d))
    rows = typed.filter(F.col("x") >= 100.0).collect()
    assert [r["k"] for r in rows] == [1]  # the NaN row survives

    # statsschema sink path: same data sealed at write time
    d2 = str(tmp_path / "nanzm_sink")
    src = spark.read.format("fourmc").load(d)
    src.write.format("fourmc").option("codec", "zstd") \
       .option("statsschema", _TZM_DDL).mode("overwrite").save(d2)
    import json as _json
    import math
    metas = [_json.load(open(s)) for s in glob.glob(f"{d2}/*.stats.json")]
    nan_maxes = [m["columns"]["x"]["max"] for m in metas
                 if isinstance(m["columns"]["x"]["max"], float)
                 and math.isnan(m["columns"]["x"]["max"])]
    assert nan_maxes, "the NaN span's max must be recorded as NaN"
    typed2 = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
              .load(d2))
    assert [r["k"] for r in typed2.filter(F.col("x") >= 100.0).collect()] \
        == [1]


def test_sink_statsschema_temporal_micros_prune_end_to_end(spark, tmp_path):
    """Write-time (statsschema) sidecars carry TimestampType stats as
    epoch micros; a ts range on the typed scan prunes the other file
    BEFORE any footer read (poison-file proof)."""
    import json as _json

    from fourmc_spark.sources.datasource import STATS_SUFFIX

    d = str(tmp_path / "tzm_sink")
    _write_tzm_tree(spark, str(tmp_path / "tzm_src"))
    src = spark.read.format("fourmc").load(str(tmp_path / "tzm_src"))
    src.write.format("fourmc").option("codec", "zstd") \
       .option("statsschema", _TZM_DDL).mode("overwrite").save(d)
    # poison: garbage container whose valid sidecar excludes the range
    bad = os.path.join(d, "bad.4mz")
    with open(bad, "wb") as f:
        f.write(b"POISON-NOT-A-CONTAINER" * 16)
    with open(bad + STATS_SUFFIX, "w") as f:
        _json.dump({"version": 2, "size": os.path.getsize(bad), "rows": 1,
                    "columns": {"ts": {"min": 1893456000000000,  # 2030
                                       "max": 1893542400000000,
                                       "nulls": 0}}}, f)
    typed = (spark.read.format("fourmc").option("jsonschema", _TZM_DDL)
             .load(d))
    got = typed.filter(
        (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-02-01")
    ).orderBy("k").collect()
    assert [r["k"] for r in got] == [1, 2]


def test_overwrite_and_rename_never_orphan_sidecars(spark, tmp_path):
    """Sidecars must not outlive their data files: overwrite removes
    the old files' sidecars, and a stats-less write landing on a name
    that previously carried stats evicts the stale sidecar (the size
    check alone could re-adopt it on a byte-size collision)."""
    d = str(tmp_path / "orph")
    df = spark.range(50).select(
        F.to_json(F.struct(F.col("id").alias("k"))).alias("value")
    ).coalesce(1)
    df.write.format("fourmc").option("statsschema", "k bigint") \
      .mode("overwrite").save(d)
    assert glob.glob(f"{d}/*.stats.json")
    # overwrite WITHOUT statsschema: no sidecar may survive
    df.write.format("fourmc").mode("overwrite").save(d)
    assert glob.glob(f"{d}/*.stats.json") == []
    # read back clean (a stale sidecar with out-of-range stats would
    # have pruned these rows)
    typed = (spark.read.format("fourmc").option("jsonschema", "k bigint")
             .load(d))
    assert typed.filter(F.col("k") >= 0).count() == 50


def test_stream_sink_rename_evicts_stale_sidecar(tmp_path):
    """A stream-sink rename landing a stats-less file over an existing
    deterministic part-b name removes that name's old sidecar."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.sources.datasource import STATS_SUFFIX
    from fourmc_spark.sources.stream import FourMcStreamWriter

    out = str(tmp_path / "sw")
    os.makedirs(out)
    schema = StructType([StructField("value", StringType())])

    def run_batch(batch_id, stats):
        opts = {"path": out, "codec": "zstd"}
        if stats:
            opts["statsschema"] = "k bigint"
        w = FourMcStreamWriter(CaseInsensitiveDict(opts), schema, False)
        msg = w.write(iter([pa.RecordBatch.from_pydict(
            {"value": ['{"k": 1}', '{"k": 2}']}
        )]))
        w.commit([msg], batchId=batch_id)

    run_batch(1, stats=True)
    data = glob.glob(f"{out}/part-b*.4mz")
    assert len(data) == 1 and os.path.exists(data[0] + STATS_SUFFIX)
    # simulate a rebuilt pipeline re-landing the same deterministic
    # name without stats (markers removed by hand, output dir kept)
    for mk in ("_fourmc_sink_done", "_fourmc_sink_hwb"):
        os.remove(os.path.join(out, mk))
    run_batch(1, stats=False)
    data2 = glob.glob(f"{out}/part-b*.4mz")
    assert len(data2) == 1
    assert not os.path.exists(data2[0] + STATS_SUFFIX)


def test_analyze_float32_stats_never_prune_exact_boundary(spark, tmp_path):
    """float32 stats must widen to double BEFORE the string cast:
    CAST(0.1f AS STRING) is the float32 shortest repr "0.1", which
    reparses to a double BELOW the widened float value — a bound under
    the true max would wrongly prune `x >= CAST(0.1 AS FLOAT)` rows."""
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "f32")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b'{"x": 0.1, "k": 1}\n',
               codec="zstd")
    ddl = "x float, k bigint"
    analyze_stats(spark, d, ddl)
    import json as _json
    meta = _json.load(open(glob.glob(f"{d}/*.stats.json")[0]))
    widened = 0.10000000149011612  # float32 0.1 as double
    assert meta["columns"]["x"]["max"] == widened
    typed = spark.read.format("fourmc").option("jsonschema", ddl).load(d)
    rows = typed.filter(F.col("x") >= F.lit(0.1).cast("float")).collect()
    assert [r["k"] for r in rows] == [1]


def test_zone_pruning_applies_to_unsplittable_zst_files(spark, tmp_path):
    """File-tier zone maps compose with the unsplittable codecs too:
    the zone check runs before the codec branch in partitions(), so a
    .zst file whose sidecar excludes the pushed range contributes zero
    partitions — proven by a poison .zst of garbage bytes."""
    import json as _json

    from fourmc_spark.format.writer import write_zst_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import STATS_SUFFIX

    d = str(tmp_path / "zstzm")
    os.makedirs(d)
    write_zst_file(os.path.join(d, "a.zst"), b'{"k": 1}\n{"k": 2}\n')
    analyze_stats(spark, d, "k bigint")
    bad = os.path.join(d, "bad.zst")
    with open(bad, "wb") as f:
        f.write(b"NOT-ZSTD-AT-ALL" * 8)
    with open(bad + STATS_SUFFIX, "w") as f:
        _json.dump({"version": 2, "size": os.path.getsize(bad), "rows": 1,
                    "columns": {"k": {"min": 1000, "max": 2000,
                                      "nulls": 0}}}, f)
    typed = (spark.read.format("fourmc").option("jsonschema", "k bigint")
             .load(d))
    assert sorted(
        r["k"] for r in typed.filter(F.col("k") < 100).collect()
    ) == [1, 2]


def test_zone_ts_block_pruning_within_file(spark, tmp_path):
    """Block tier works for temporal columns too: a single ts-sorted
    multi-block file plans fewer compressed bytes under a narrow ts
    range, and the rows still come back exactly."""
    import datetime as dt

    from pyspark.sql.datasource import (
        CaseInsensitiveDict, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = str(tmp_path / "tsblocks")
    ddl = "ts timestamp, k bigint"
    df = spark.range(4000).select(
        F.date_format(
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 60),
            "yyyy-MM-dd HH:mm:ss.SSSSSS",
        ).alias("ts"),
        F.col("id").alias("k"),
    )
    (df.orderBy("k").coalesce(1)
       .select(F.to_json(F.struct("ts", "k")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 4096).mode("overwrite").save(d))
    analyze_stats(spark, d, ddl)
    import json as _json
    meta = _json.load(open(glob.glob(f"{d}/*.stats.json")[0]))
    assert len(meta["blocks"]) > 8
    assert isinstance(meta["blocks"][0]["c"]["ts"][0], int)  # micros

    schema = _parse_flat_ddl(ddl)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": ddl})

    def planned(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return [p for p in iter_slices(rd.partitions()) if p.path]

    full = planned([])
    utc = dt.timezone.utc
    lo = dt.datetime(2024, 1, 1, 10, 0, tzinfo=utc)
    hi = dt.datetime(2024, 1, 1, 12, 0, tzinfo=utc)
    narrow = planned(
        [GreaterThanOrEqual(("ts",), lo), LessThan(("ts",), hi)]
    )
    assert sum(p.end - p.start for p in narrow) < sum(
        p.end - p.start for p in full
    )
    typed = spark.read.format("fourmc").option("jsonschema", ddl).load(d)
    got = typed.filter(
        (F.col("ts") >= "2024-01-01 10:00:00")
        & (F.col("ts") < "2024-01-01 12:00:00")
    ).count()
    assert got == 120
