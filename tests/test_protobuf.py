"""Protobuf record model (SURVEY §2.1 S8/K4): wire codec unit tests,
ElephantBird block framing, split-invariance over 4mc blocks, and the
reference's Spark tag-count query (§3.3) end-to-end from protobuf input."""

import glob
import io
import os

import pytest
from pyspark.sql import functions as F

from fourmc_spark.format.protobuf import (
    SYNC_MARKER,
    USER_SCHEMA,
    decode_eb_block,
    decode_message,
    decode_varint,
    encode_eb_block,
    encode_message,
    encode_varint,
    iter_eb_records_for_split,
)
from fourmc_spark.format.writer import FourMcWriter
from fourmc_spark.sources.datasource import iter_slices


def _users(n):
    return [
        {
            "userId": f"u{i:05d}",
            "name": f"name-{i}" if i % 7 else None,
            "type": ["free", "pro", "staff"][i % 3],
            "birthDate": 500000000 + i * 86400,
            "tags": [f"tag{j}" for j in range(i % 5)],
        }
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# wire format
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("v", [0, 1, 127, 128, 300, 2**31, 2**63 - 1, -1, -2**63])
def test_varint_roundtrip(v):
    buf = encode_varint(v)
    got, pos = decode_varint(buf, 0)
    if v < 0:
        got = got - (1 << 64)
    assert got == v and pos == len(buf)


def test_message_roundtrip_all_fields():
    for rec in _users(50):
        back = decode_message(encode_message(rec, USER_SCHEMA), USER_SCHEMA)
        assert back["userId"] == rec["userId"]
        assert back["name"] == rec["name"]
        assert back["type"] == rec["type"]
        assert back["birthDate"] == rec["birthDate"]
        assert back["tags"] == rec["tags"]


def test_message_golden_bytes():
    # hand-computed wire bytes: field 1 (tag 0x0A) "ab", field 4 varint 150,
    # two repeated field-5 strings
    rec = {"userId": "ab", "birthDate": 150, "tags": ["x", "yz"]}
    expect = bytes(
        [0x0A, 0x02, 0x61, 0x62,          # 1: "ab"
         0x20, 0x96, 0x01,                # 4: 150
         0x2A, 0x01, 0x78,                # 5: "x"
         0x2A, 0x02, 0x79, 0x7A]          # 5: "yz"
    )
    assert encode_message(rec, USER_SCHEMA) == expect
    back = decode_message(expect, USER_SCHEMA)
    assert back["userId"] == "ab" and back["birthDate"] == 150
    assert back["tags"] == ["x", "yz"]


def test_unknown_fields_skipped():
    # field 99 varint + field 1 string: decoder must skip 99, keep 1
    buf = encode_varint((99 << 3) | 0) + encode_varint(7) + bytes(
        [0x0A, 0x01, 0x71]
    )
    assert decode_message(buf, USER_SCHEMA)["userId"] == "q"


def test_eb_block_roundtrip():
    blobs = [encode_message(r, USER_SCHEMA) for r in _users(10)]
    framed = encode_eb_block(blobs, "USER$User")
    assert framed.startswith(SYNC_MARKER)
    size, pos = decode_varint(framed, len(SYNC_MARKER))
    assert size == len(framed) - pos
    cls, back = decode_eb_block(framed[pos:])
    assert cls == "USER$User"
    assert back == blobs


# ---------------------------------------------------------------------------
# split-invariance over the 4mc container
# ---------------------------------------------------------------------------

def _proto_file(tmp_path, n_users=3000, block_size=4096, codec="lz4"):
    path = str(tmp_path / ("users.4mc" if codec == "lz4" else "users.4mz"))
    users = _users(n_users)
    with open(path, "wb") as f, FourMcWriter(
        f, codec=codec, level="fast", block_size=block_size
    ) as w:
        pending = []
        for u in users:
            pending.append(encode_message(u, USER_SCHEMA))
            if len(pending) == 50:
                w.write(encode_eb_block(pending, "USER$User"))
                pending = []
        if pending:
            w.write(encode_eb_block(pending, "USER$User"))
    return path, users


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
@pytest.mark.parametrize("n_splits", [1, 2, 3, 7])
def test_split_invariance(tmp_path, codec, n_splits):
    from fourmc_spark.format import core
    from fourmc_spark.format.reader import scan_file_info

    path, users = _proto_file(tmp_path, codec=codec)
    _, fsize, offsets = scan_file_info(path)
    idx = core.BlockIndex(offsets)
    step = max(1, fsize // n_splits)
    got = []
    raw = 0
    while raw < fsize:
        raw_end = min(raw + step, fsize)
        astart = idx.align_slice_start(raw, raw_end)
        if astart != core.NOT_FOUND:
            aend = idx.align_slice_end(raw_end, fsize)
            astart = max(astart, core.HEADER_SIZE)
            if astart < aend:
                with open(path, "rb") as f:
                    got.extend(
                        rec
                        for _, rec in iter_eb_records_for_split(
                            f, codec, astart, aend, USER_SCHEMA
                        )
                    )
        raw = raw_end
    assert len(got) == len(users)
    for g, u in zip(got, users):
        assert g["userId"] == u["userId"]
        assert g["tags"] == u["tags"]


# ---------------------------------------------------------------------------
# Spark end-to-end
# ---------------------------------------------------------------------------

def test_spark_proto_roundtrip(spark, tmp_path):
    out = str(tmp_path / "proto_out")
    users = _users(2000)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"]) for u in users],
        "userId string, name string, type string, birthDate long, tags array<string>",
    )
    (
        df.coalesce(2)
        .write.format("fourmcproto")
        .option("codec", "zstd")
        .option("level", "high")
        .mode("overwrite")
        .save(out)
    )
    assert glob.glob(os.path.join(out, "*.4mz"))
    back = (
        spark.read.format("fourmcproto")
        .option("maxpartitionbytes", 64 * 1024)
        .load(out)
    )
    assert back.count() == len(users)
    assert [f.name for f in back.schema.fields] == [
        "userId", "name", "type", "birthDate", "tags",
    ]
    a = sorted(df.collect(), key=lambda r: r.userId)
    b = sorted(back.collect(), key=lambda r: r.userId)
    for ra, rb in zip(a, b):
        assert ra.userId == rb.userId and ra.name == rb.name
        assert list(ra.tags) == list(rb.tags)


def test_spark_tag_count_query(spark, tmp_path):
    """The reference's one real Spark query (TestProtobufInput.java:88-115):
    explode tags -> count -> sort desc, from 4mz protobuf input."""
    out = str(tmp_path / "proto_q")
    users = _users(1000)
    spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"]) for u in users],
        "userId string, name string, type string, birthDate long, tags array<string>",
    ).write.format("fourmcproto").option("codec", "zstd").mode("overwrite").save(out)

    got = (
        spark.read.format("fourmcproto").load(out)
        .select(F.explode("tags").alias("tag"))
        .groupBy("tag").count()
        .orderBy(F.desc("count"), "tag")
        .collect()
    )
    # oracle computed in Python from the same records
    from collections import Counter

    expect = Counter(t for u in users for t in u["tags"])
    assert {r.tag: r["count"] for r in got} == dict(expect)
    counts = [r["count"] for r in got]
    assert counts == sorted(counts, reverse=True)


def test_proto_streaming_sink_and_source(spark, tmp_path):
    """S8/K4 streaming twins (round 8): fourmcproto writeStream seals EB
    proto files with batch-idempotent names; fourmcproto readStream
    ingests sealed proto files incrementally (the fourmc offset chain
    over the EB record model). Both directions read back exactly."""
    src = str(tmp_path / "ps_src")
    out = str(tmp_path / "ps_out")
    ckpt = str(tmp_path / "ps_ckpt")
    users = _users(800)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    df.write.mode("overwrite").parquet(src)

    # --- streaming SINK: parquet stream -> sealed proto 4mz files
    sdf = spark.readStream.schema(df.schema).parquet(src)
    q = (
        sdf.writeStream.format("fourmcproto")
        .option("codec", "zstd")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    sealed = glob.glob(os.path.join(out, "*.4mz"))
    assert sealed and all("part-b" in os.path.basename(p) for p in sealed)
    back = spark.read.format("fourmcproto").load(out)
    assert back.count() == len(users)
    a = sorted(df.collect(), key=lambda r: r.userId)
    b = sorted(back.collect(), key=lambda r: r.userId)
    for ra, rb in zip(a, b):
        assert ra.userId == rb.userId and ra.name == rb.name
        assert list(ra.tags) == list(rb.tags)

    # --- streaming SOURCE: sealed proto files ingest incrementally
    psdf = spark.readStream.format("fourmcproto").load(out)
    q2 = (
        psdf.select("userId", "birthDate")
        .writeStream.format("memory").queryName("t_proto_stream")
        .outputMode("append").start()
    )
    try:
        q2.processAllAvailable()
        assert spark.table("t_proto_stream").count() == len(users)
        # a new sealed proto file arrives -> ingested incrementally,
        # earlier files not re-read
        extra = _users(50)
        spark.createDataFrame(
            [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
             for u in extra],
            df.schema,
        ).coalesce(1).write.format("fourmcproto").option("codec", "zstd") \
            .mode("append").save(out)
        q2.processAllAvailable()
        assert spark.table("t_proto_stream").count() == len(users) + 50
    finally:
        q2.stop()


def test_column_pruning_reads_subset(spark, tmp_path):
    out = str(tmp_path / "proto_prune")
    users = _users(500)
    spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"]) for u in users],
        "userId string, name string, type string, birthDate long, tags array<string>",
    ).write.format("fourmcproto").mode("overwrite").save(out)
    only = spark.read.format("fourmcproto").load(out).select("userId")
    assert only.columns == ["userId"]
    assert only.count() == 500


def test_marker_straddles_container_blocks(tmp_path):
    """Tiny 4mc blocks force EB markers/blocks to straddle container block
    boundaries; every record must still be produced exactly once."""
    path, users = _proto_file(tmp_path, n_users=500, block_size=256)
    with open(path, "rb") as f:
        got = [r for _, r in iter_eb_records_for_split(
            f, "lz4", 0, 10**18, USER_SCHEMA
        )]
    assert [g["userId"] for g in got] == [u["userId"] for u in users]


@pytest.mark.parametrize("ext", ["zst", "lz4_fast"])
def test_proto_planning_rejects_unindexed_containers(tmp_path, ext):
    """EB records live only in footer-indexed files: a .zst or Hadoop
    container in the tree fails planning with a ValueError naming it,
    instead of being planned and then decoded as 4mc blocks."""
    from fourmc_spark.format.hadoop_stream import write_hadoop_file
    from fourmc_spark.format.writer import write_zst_file

    path, _ = _proto_file(tmp_path, n_users=200)
    with open(path, "rb") as f:
        blob = f.read()
    other = str(tmp_path / f"users.{ext}")
    if ext == "zst":
        write_zst_file(other, blob)
    else:
        write_hadoop_file(other, blob, "lz4")
    with pytest.raises(ValueError, match=r"reads only \.4mc/\.4mz") as e:
        _proto_planned(str(tmp_path), [])
    assert other in str(e.value)


# ---------------------------------------------------------------------------
# Proto zone maps (r10): analyze_stats_proto + value pushdown on the scan
# ---------------------------------------------------------------------------

def _proto_planned(d, filters, schema=None):
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.format.protobuf import spark_struct
    from fourmc_spark.sources.protobuf import FourMcProtoReader

    sch = schema or spark_struct(USER_SCHEMA)
    rd = FourMcProtoReader(CaseInsensitiveDict({"path": d}), sch)
    list(rd.pushFilters(filters))
    return [p for p in iter_slices(rd.partitions()) if p.path]


def test_proto_analyze_stats_and_zone_pruning(spark, tmp_path):
    """analyze_stats_proto writes the same sidecar format the scans
    prune against: int64/string range predicates skip whole files, and
    results never change."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.operators.maintenance import analyze_stats_proto

    d = str(tmp_path / "pzm")
    users = _users(400)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    df.repartitionByRange(4, "birthDate").write.format("fourmcproto") \
      .option("codec", "zstd").mode("overwrite").save(d)
    res = analyze_stats_proto(spark, d)
    assert res["files"] == 4 and res["rows"] == 400
    assert "tags" not in res["columns"]  # repeated: not zone-eligible

    full = {p.path for p in _proto_planned(d, [])}
    assert len(full) == 4
    lo = users[0]["birthDate"]
    # range keeps only overlapping files
    kept = {p.path for p in _proto_planned(
        d, [LessThan(("birthDate",), lo + 100 * 86400)]
    )}
    assert 0 < len(kept) < 4
    # out-of-domain prunes everything
    assert _proto_planned(
        d, [GreaterThanOrEqual(("birthDate",), 10**18)]
    ) == []
    assert _proto_planned(d, [GreaterThanOrEqual(("userId",), "zzz")]) == []
    # point predicate hits one file
    assert len({p.path for p in _proto_planned(
        d, [EqualTo(("birthDate",), lo)]
    )}) == 1
    # pruning never changes a real query
    back = spark.read.format("fourmcproto").load(d)
    got = back.filter(F.col("birthDate") < lo + 100 * 86400).count()
    assert got == 100


def test_proto_block_zone_maps_prune_within_file(spark, tmp_path):
    """Block tier: one sorted file with tiny container blocks; a narrow
    birthDate range must plan fewer partitions than the full scan and
    return exactly the matching records."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from fourmc_spark.operators.maintenance import analyze_stats_proto

    d = str(tmp_path / "pzm_blocks")
    users = _users(2000)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    (df.orderBy("birthDate").coalesce(1).write.format("fourmcproto")
       .option("codec", "zstd").option("recordsperblock", 25)
       .option("blocksize", 2048).mode("overwrite").save(d))
    res = analyze_stats_proto(spark, d)
    assert res["files"] == 1
    import glob as _glob
    import json as _json
    meta = _json.load(open(_glob.glob(f"{d}/*.stats.json")[0]))
    assert len(meta["blocks"]) > 4

    def n_blocks(parts):
        # count kept container blocks via partition spans
        return sum(1 for p in parts)

    full = _proto_planned(d, [], schema=df.schema)
    lo = users[500]["birthDate"]
    hi = users[600]["birthDate"]
    narrow = _proto_planned(
        d,
        [GreaterThanOrEqual(("birthDate",), lo), LessThan(("birthDate",), hi)],
        schema=df.schema,
    )
    assert sum(p.end - p.start for p in narrow) < sum(
        p.end - p.start for p in full
    )
    back = spark.read.format("fourmcproto").load(d)
    got = back.filter(
        (F.col("birthDate") >= lo) & (F.col("birthDate") < hi)
    ).count()
    assert got == 100


def test_proto_zone_pruned_file_is_never_opened(spark, tmp_path):
    """Poison proof for the proto scan: a garbage container with a
    valid out-of-range sidecar must be excluded before any footer
    read."""
    import json as _json

    from fourmc_spark.sources.datasource import STATS_SUFFIX

    d = str(tmp_path / "pzm_poison")
    users = _users(50)
    spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    ).coalesce(1).write.format("fourmcproto").mode("overwrite").save(d)
    from fourmc_spark.operators.maintenance import analyze_stats_proto
    analyze_stats_proto(spark, d)
    bad = os.path.join(d, "bad.4mc")
    with open(bad, "wb") as f:
        f.write(b"POISON" * 64)
    with open(bad + STATS_SUFFIX, "w") as f:
        _json.dump({"version": 2, "size": os.path.getsize(bad), "rows": 1,
                    "columns": {"birthDate": {"min": 10**17, "max": 10**18,
                                              "nulls": 0}}}, f)
    back = spark.read.format("fourmcproto").load(d)
    got = back.filter(F.col("birthDate") < 10**12).count()
    assert got == 50


def test_proto_overwrite_evicts_sidecars(spark, tmp_path):
    from fourmc_spark.operators.maintenance import analyze_stats_proto

    d = str(tmp_path / "pzm_evict")
    users = _users(20)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    ).coalesce(1)
    df.write.format("fourmcproto").mode("overwrite").save(d)
    analyze_stats_proto(spark, d)
    assert glob.glob(f"{d}/*.stats.json")
    df.write.format("fourmcproto").mode("overwrite").save(d)
    assert glob.glob(f"{d}/*.stats.json") == []


def test_proto_overwrite_replaces_nested_files(spark, tmp_path):
    """An overwrite replaces everything the recursive reader lists, not
    just the top level: an older d/sub/part-* must not survive."""
    d = str(tmp_path / "pnest")
    cols = ("userId string, name string, type string, birthDate long, "
            "tags array<string>")

    def frame(users):
        return spark.createDataFrame(
            [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
             for u in users], cols,
        ).coalesce(1)

    old, new = _users(30)[:10], _users(30)[10:]
    frame(old).write.format("fourmcproto").mode("overwrite").save(
        os.path.join(d, "sub"))
    frame(new).write.format("fourmcproto").mode("overwrite").save(d)
    back = spark.read.format("fourmcproto").load(d)
    assert sorted(r["userId"] for r in back.collect()) == sorted(
        u["userId"] for u in new)


def test_proto_compact_carries_zone_maps_exactly(spark, tmp_path):
    """compact_protobuf carries analyze_stats_proto zone maps through
    the raw block copy with NO seam drops (sync-marker ownership is
    concatenation-invariant): every input block entry survives with a
    remapped offset, the compacted tree prunes, and results are exact."""
    import json as _json

    from pyspark.sql.datasource import GreaterThanOrEqual

    from fourmc_spark.operators.maintenance import (
        analyze_stats_proto, compact_protobuf,
    )

    d_in = str(tmp_path / "pin")
    d_out = str(tmp_path / "pout")
    users = _users(1200)
    df = spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    (df.orderBy("birthDate").repartitionByRange(4, "birthDate")
       .sortWithinPartitions("birthDate")
       .write.format("fourmcproto").option("codec", "zstd")
       .option("recordsperblock", 25).option("blocksize", 2048)
       .mode("overwrite").save(d_in))
    analyze_stats_proto(spark, d_in)
    n_blocks_in = sum(
        len(_json.load(open(s))["blocks"])
        for s in glob.glob(f"{d_in}/*.stats.json")
    )
    res = compact_protobuf(spark, d_in, d_out)
    assert res["outputs"] == 1 and res["stats_carried"] == 1
    meta = _json.load(open(glob.glob(f"{d_out}/*.stats.json")[0]))
    assert len(meta["blocks"]) == n_blocks_in  # NO seam drops
    assert meta["carried"] is True

    # the carried maps prune on the compacted tree without re-ANALYZE
    full = _proto_planned(d_out, [], schema=df.schema)
    lo = users[600]["birthDate"]
    narrow = _proto_planned(
        d_out, [GreaterThanOrEqual(("birthDate",), lo)], schema=df.schema
    )
    assert sum(p.end - p.start for p in narrow) < sum(
        p.end - p.start for p in full
    )
    # one load() per filter set (the documented readInfo-cache rule)
    back = spark.read.format("fourmcproto").load(d_out)
    assert back.filter(F.col("birthDate") >= lo).count() == 600
    assert spark.read.format("fourmcproto").load(d_out).count() == 1200


def test_proto_analyze_split_ranges_identical_sidecar(spark, tmp_path):
    """analyze_stats_proto with tiny split_bytes (many tasks per file)
    must produce the byte-identical sidecar of the single-range run —
    block ownership is disjoint across ranges, so the executor-side
    merge loses nothing."""
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats_proto

    d = str(tmp_path / "pranges")
    users = _users(1500)
    spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    ).coalesce(1).write.format("fourmcproto") \
     .option("recordsperblock", 20).option("blocksize", 2048) \
     .mode("overwrite").save(d)

    res1 = analyze_stats_proto(spark, d)  # one range per file
    assert res1["tasks"] == 1
    sc_path = glob.glob(f"{d}/*.stats.json")[0]
    single = _json.load(open(sc_path))
    assert len(single["blocks"]) > 4

    res2 = analyze_stats_proto(spark, d, split_bytes=4096)  # many ranges
    assert res2["tasks"] > 2
    multi = _json.load(open(sc_path))
    assert multi == single
    assert res2["rows"] == res1["rows"] == 1500


def test_proto_reanalyze_keeps_valid_bloom_tiers(spark, tmp_path):
    """analyze_stats_proto without bloom_columns, over a file whose
    sidecar holds valid bloom tiers, rebuilds the zone map and keeps
    both bloom tiers — analyze_stats' rule — instead of dropping them."""
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats_proto

    d = str(tmp_path / "pkeep")
    users = _users(600)
    spark.createDataFrame(
        [(u["userId"], u["name"], u["type"], u["birthDate"], u["tags"])
         for u in users],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    ).coalesce(1).write.format("fourmcproto") \
     .option("recordsperblock", 20).option("blocksize", 2048) \
     .mode("overwrite").save(d)
    analyze_stats_proto(spark, d, bloom_columns=["userId"],
                        bloom_bits=1 << 12, bloom_block_bits=1 << 10)
    sc_path = glob.glob(f"{d}/*.stats.json")[0]
    first = _json.load(open(sc_path))
    assert first["bloom"]["userId"] and first["bloom_blocks"]["blocks"]
    res = analyze_stats_proto(spark, d)
    again = _json.load(open(sc_path))
    assert res["rows"] == 600
    assert again["bloom"] == first["bloom"]
    assert again["bloom_blocks"] == first["bloom_blocks"]
    assert again["columns"] == first["columns"]
    assert again["blocks"] == first["blocks"]


@pytest.mark.parametrize("ext", ["zst", "lz4_fast"])
def test_proto_sink_rejects_unindexed_codec(spark, tmp_path, ext):
    """The proto sink frames EB records in 4mc/4mz only: a codec naming a
    container without a footer index fails the write on the driver,
    naming the codec, and leaves no file, instead of writing a .4mz or
    .4mc file for a .zst or Hadoop request."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.format.protobuf import spark_struct
    from fourmc_spark.sources.protobuf import FourMcProtoWriter

    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match=rf"'{ext}'.*lz4\|zstd\|4mc\|4mz"):
        FourMcProtoWriter(CaseInsensitiveDict({"path": out, "codec": ext}),
                          spark_struct(USER_SCHEMA), False)
    df = spark.createDataFrame(
        [("u1", "n", "t", 1, ["a"])],
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    with pytest.raises(Exception, match="footer index"):
        df.write.format("fourmcproto").option("codec", ext) \
          .mode("overwrite").save(out)
    assert [f for _, _, fs in os.walk(out) for f in fs] == []


def test_analyze_stats_proto_zones_equal_kernel_on_typed_scan(spark,
                                                              tmp_path):
    """analyze_stats_proto's file tier is the zone_spans kernel over the
    typed proto scan's columns of the same file: int64 past 2^53,
    doubles with NaN and ±inf, float32, non-ASCII strings, a field that
    is always absent (all null) and a block whose doubles are all NaN."""
    import json as _json

    from fourmc_spark.format.protobuf import ProtoField, spark_struct
    from fourmc_spark.operators.maintenance import analyze_stats_proto
    from fourmc_spark.sources.datasource import zone_merge, zone_spans

    fields = (ProtoField(1, "id", "int64"), ProtoField(2, "name", "string"),
              ProtoField(3, "score", "double"),
              ProtoField(4, "ratio", "float"), ProtoField(5, "n", "int32"),
              ProtoField(6, "gone", "string"))
    fjson = _json.dumps([{"number": f.number, "name": f.name,
                          "type": f.type} for f in fields])
    d = str(tmp_path / "pk")
    os.makedirs(d)
    for fi in range(2):
        path = os.path.join(d, f"p{fi}.4mz")
        with open(path, "wb") as f, FourMcWriter(
            f, codec="zstd", level="fast", block_size=1024
        ) as w:
            for b in range(12):
                recs = []
                for i in range(b * 25, b * 25 + 25):
                    r = {"id": [2**53 + 1, 2**63 - 1, -(2**63), i][i % 4],
                         "name": [None, "ünï ✓", "", f"n{i}"][i % 4],
                         "score": [float("nan"), 1.5, -float("inf"),
                                   None][i % 4] if b != 5 else float("nan"),
                         "ratio": [0.1, None, 2.5][i % 3],
                         "n": [None, -(2**31), 2**31 - 1, i][(i + fi) % 4]}
                    recs.append(encode_message(
                        {k: v for k, v in r.items() if v is not None}, fields
                    ))
                w.write(encode_eb_block(recs, "X"))
    analyze_stats_proto(spark, d, fields=fields)
    types = {f.name: f.dataType for f in spark_struct(fields)}
    for path in sorted(glob.glob(f"{d}/*.4mz")):
        tbl = (spark.read.format("fourmcproto").option("fields", fjson)
               .load(path).toArrow())
        assert tbl.num_rows == 300
        meta = _json.load(open(path + ".stats.json"))
        want = {c: zone_merge(zone_spans(tbl.column(c).combine_chunks(),
                                         types[c]))
                for c in types}
        assert meta["rows"] == 300
        assert _json.dumps(meta["columns"]) == _json.dumps(want), path
        assert meta["columns"]["id"]["max"] == 2**63 - 1
        assert meta["columns"]["ratio"]["min"] == 0.10000000149011612
        assert meta["columns"]["gone"] == {"min": None, "max": None,
                                           "nulls": 300}
        assert len(meta["blocks"]) > 1
