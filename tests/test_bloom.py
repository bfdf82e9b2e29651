"""Bloom-filter sidecar tier (round 10): analyze_bloom build, planner
probe pruning, conservative-safety matrix, and compaction OR-merge carry.

Zone maps (analyze_stats) prune ranges on the clustering key; blooms
prune POINT predicates (EqualTo / In) on everything else. The contract
under test: XXH64 of the value's CAST AS STRING text, seed 42 — Spark's
xxhash64 expression, the builders' numpy array kernel and the probe's
scalar hash verified bit-identical here — double-hashed into k
positions of a per-file bitmap; a probe that tests
negative for EVERY pushed point value proves the file empty for the
conjunction and the planner skips it before any footer read.
"""
import base64
import glob as _glob
import json as _json
import os

from pyspark.sql import functions as F
from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo, In

from fourmc_spark.sources.datasource import (
    BLOOM_ALGO,
    BLOOM_SEED,
    FourMcDataSourceReader,
    _bloom_probes,
    _parse_flat_ddl,
    _sidecar_dropped,
    iter_slices,
)

_DDL = "k bigint, name string, v double"


def _write_unclustered(spark, d: str, n_files: int = 4, rows: int = 400,
                       blocksize: int | None = None):
    """Every file's k span covers the whole domain (hash spread), so the
    zone tier cannot prune a point probe — only blooms can."""
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    w = (df.repartition(n_files)
         .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
         .write.format("fourmc").option("codec", "zstd"))
    if blocksize:
        w = w.option("blocksize", blocksize)
    w.mode("overwrite").save(d)


def _planned(d, filters):
    schema = _parse_flat_ddl(_DDL)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": _DDL})
    rd = FourMcDataSourceReader(opts, schema)
    list(rd.pushFilters(filters))
    return {os.path.basename(p.path)
            for p in iter_slices(rd.partitions()) if p.path}


def _file_pruned(meta, points, typemap) -> bool:
    """The planner's file-tier decision for a bloom-only conjunction."""
    probes = _bloom_probes(points, typemap)
    return _sidecar_dropped(meta, {}, {}, probes) is None


def _ids_per_file(spark, d):
    typed = (spark.read.format("fourmc").option("jsonschema", _DDL)
             .option("withfilename", "true").load(d))
    return {
        os.path.basename(r["_file"]): set(r["ids"])
        for r in typed.groupBy("_file")
        .agg(F.collect_list("k").alias("ids")).collect()
    }


# ---------------------------------------------------------------------------
# hash contract
# ---------------------------------------------------------------------------

def test_xxh64_py_matches_native():
    """The Python-side XXH64 (the numpy array kernel every Python bloom
    builder hashes with) is bit-identical to libxxhash across every
    length class (empty / <4 / <8 / <32 / striped / tail mixes): value
    by value, as one mixed-length array, and as a sliced array."""
    import random

    import pyarrow as pa

    from fourmc_spark.format.native import xxh64, xxh64_array

    rng = random.Random(1013)
    lens = (0, 1, 3, 4, 5, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 100, 1000)
    datas = [bytes(rng.randrange(256) for _ in range(ln)) for ln in lens]
    for seed in (0, 42, (1 << 64) - 5):
        want = [xxh64(d, seed) for d in datas]
        for d, h in zip(datas, want):
            assert xxh64_array(pa.array([d], pa.binary()), seed)[0] == h
        arr = pa.array(datas, pa.binary())
        assert xxh64_array(arr, seed).tolist() == want
        assert xxh64_array(arr.slice(3, 11), seed).tolist() == want[3:14]


def test_xxh64_matches_spark_expression(spark):
    """The probe's hash IS Spark's: xxhash64 over CAST AS STRING equals
    XXH64(utf8 bytes of str(v), seed 42) for ints and strings — so the
    CAST AS STRING text analyze_bloom hashes is the probe's str() text."""
    from fourmc_spark.format.native import xxh64

    strs = ["", "abc", "hello world", "ünïcødé ✓", "a" * 100]
    ints = [0, 1, -1, 123456789, -987654321, 2**62, -(2**62)]
    df = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in df.collect():
        mine = xxh64(r["s"].encode("utf-8"), BLOOM_SEED)
        assert mine - (mine >= 1 << 63) * (1 << 64) == r["h"]
    df2 = spark.createDataFrame([(i,) for i in ints], "i bigint").select(
        "i", F.xxhash64(F.col("i").cast("string")).alias("h")
    )
    for r in df2.collect():
        mine = xxh64(str(r["i"]).encode("utf-8"), BLOOM_SEED)
        assert mine - (mine >= 1 << 63) * (1 << 64) == r["h"]


# ---------------------------------------------------------------------------
# build + prune
# ---------------------------------------------------------------------------

def test_analyze_bloom_builds_and_prunes(spark, tmp_path):
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "bl")
    _write_unclustered(spark, d, n_files=4, rows=400)
    res = analyze_bloom(spark, d, _DDL, ["k", "name"], bits=1 << 14, k=5)
    assert res["files"] == 4 and res["set_bits"] > 0
    sidecars = sorted(_glob.glob(f"{d}/*.stats.json"))
    assert len(sidecars) == 4
    meta = _json.load(open(sidecars[0]))
    spec = meta["bloom"]["k"]
    assert spec["algo"] == BLOOM_ALGO and spec["seed"] == BLOOM_SEED
    assert len(base64.b64decode(spec["b64"])) * 8 == spec["bits"] == 1 << 14

    per_file = _ids_per_file(spark, d)
    all_files = set(per_file)
    # a point probe keeps only files that may hold it (no false absence)
    for probe in (0, 57, 399):
        kept = _planned(d, [EqualTo(("k",), probe)])
        assert {f for f, ids in per_file.items() if probe in ids} <= kept
        assert kept < all_files  # and it DID prune something
    # IN-list: union semantics — every holder kept
    probe = [3, 17, 220]
    kept = _planned(d, [In(("k",), tuple(probe))])
    holders = {f for f, ids in per_file.items() if ids & set(probe)}
    assert holders <= kept
    # out-of-domain point prunes EVERYTHING
    assert _planned(d, [EqualTo(("k",), 10_000)]) == set()
    # string blooms prune too (name domain is n0..n6)
    assert _planned(d, [EqualTo(("name",), "zzz")]) == set()
    # real query over pruned plan stays exact
    typed = spark.read.format("fourmc").option("jsonschema", _DDL).load(d)
    got = sorted(
        r["k"] for r in typed.filter(F.col("k").isin([3, 17, 220])).collect()
    )
    assert got == [3, 17, 220]


def test_bloom_pruned_file_is_never_opened(spark, tmp_path):
    """The 100 TB pin: bloom pruning engages BEFORE any footer read —
    non-matching files are zeroed in place (size preserved so their
    sidecars stay valid) and the probe query still answers exactly."""
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "poison")
    _write_unclustered(spark, d, n_files=4, rows=400)
    analyze_bloom(spark, d, _DDL, ["k"], bits=1 << 14, k=5)
    per_file = _ids_per_file(spark, d)
    probe = sorted(next(iter(per_file.values())))[:2]
    expected = sorted(probe)
    for f, ids in per_file.items():
        if not ids & set(probe):
            path = os.path.join(d, f)
            sz = os.path.getsize(path)
            with open(path, "wb") as fh:
                fh.write(b"\x00" * sz)
    got = sorted(
        r["k"]
        for r in spark.read.format("fourmc").option("jsonschema", _DDL)
        .load(d).filter(F.col("k").isin([int(x) for x in probe])).collect()
    )
    assert got == expected


def test_point_conjunction_unsatisfiable_plans_nothing(spark, tmp_path):
    """doc_id = 1 AND doc_id = 2 (or disjoint IN lists) intersect to an
    empty point set: zero files planned, even WITHOUT any sidecar."""
    _write_unclustered(spark, str(tmp_path / "c"), n_files=2, rows=50)
    d = str(tmp_path / "c")
    assert _planned(d, [EqualTo(("k",), 1), EqualTo(("k",), 2)]) == set()
    assert _planned(d, [In(("k",), (1, 2)), In(("k",), (3, 4))]) == set()
    # overlapping lists keep the intersection satisfiable: files planned
    assert _planned(d, [In(("k",), (1, 2)), In(("k",), (2, 3))]) != set()


def test_in_list_range_relaxation_uses_zone_maps(spark, tmp_path):
    """Even without blooms, an IN-list prunes via zone maps: the bounds
    [min(vals), max(vals)] are a valid conjunct relaxation, so on an
    id-SORTED layout the files outside the list's span drop."""
    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "inzm")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.lit("x").alias("name"),
        F.lit(0.0).alias("v"),
    )
    (df.repartitionByRange(4, "k")
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .mode("overwrite").save(d))
    analyze_stats(spark, d, _DDL)
    # ids 5..20 live in the first range file only
    kept = _planned(d, [In(("k",), (5, 11, 20))])
    assert len(kept) == 1


def test_bloom_conservative_matrix(spark, tmp_path):
    """Missing bloom, foreign algo tag, truncated bitmap, stale sidecar,
    or non-bloom-eligible value type => the file is SCANNED."""
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "cons")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"), b'{"k": 1, "name": "x"}\n',
               codec="zstd")
    # no sidecar at all: scanned
    assert _planned(d, [EqualTo(("k",), 999)]) == {"a.4mz"}
    analyze_bloom(spark, d, _DDL, ["k"], bits=1 << 10, k=3)
    assert _planned(d, [EqualTo(("k",), 999)]) == set()
    sc = os.path.join(d, "a.4mz.stats.json")
    meta = _json.load(open(sc))

    def rewrite(mutate):
        m = _json.loads(_json.dumps(meta))
        mutate(m)
        with open(sc, "w") as f:
            _json.dump(m, f)

    # foreign algo tag: never probed
    rewrite(lambda m: m["bloom"]["k"].update({"algo": "sha1-str"}))
    assert _planned(d, [EqualTo(("k",), 999)]) == {"a.4mz"}
    # foreign seed: never probed
    rewrite(lambda m: m["bloom"]["k"].update({"seed": 0}))
    assert _planned(d, [EqualTo(("k",), 999)]) == {"a.4mz"}
    # bitmap length != bits: never probed
    rewrite(lambda m: m["bloom"]["k"].update({"b64": "AAAA"}))
    assert _planned(d, [EqualTo(("k",), 999)]) == {"a.4mz"}
    # stale sidecar (size mismatch): whole sidecar ignored
    rewrite(lambda m: m.update({"size": m["size"] + 1}))
    assert _planned(d, [EqualTo(("k",), 999)]) == {"a.4mz"}
    # value type vs column family: str probe on a bigint column can't
    # prove absence (its canonical text may differ from CAST AS STRING)
    assert not _file_pruned(
        meta, {"k": {"0123"}}, {"k": "int", "name": "str"}
    )
    # ...while the matching family with an absent value does
    assert _file_pruned(
        meta, {"k": {999}}, {"k": "int", "name": "str"}
    )
    # a column missing from the typemap is never probed
    assert not _file_pruned(meta, {"k": {999}}, {})
    # BUILD-vs-READ family drift: the spec was sealed for an int column,
    # a read schema declaring it string must not trust the bitmap (the
    # build could have hashed different canonical text for the same
    # data) — and a legacy spec with no fam at all is never probed
    assert not _file_pruned(
        meta, {"k": {"zzz"}}, {"k": "str", "name": "str"}
    )
    nofam = _json.loads(_json.dumps(meta))
    del nofam["bloom"]["k"]["fam"]
    assert not _file_pruned(
        nofam, {"k": {999}}, {"k": "int", "name": "str"}
    )


def test_bloom_all_null_column_prunes_every_probe(spark, tmp_path):
    """A file whose bloom column holds only NULLs seals an EMPTY bitmap:
    equality never matches NULL, so every probe provably misses."""
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "nulls")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mz"),
               b'{"k": null, "name": "x"}\n{"k": null}\n', codec="zstd")
    write_file(os.path.join(d, "b.4mz"), b'{"k": 7, "name": "y"}\n',
               codec="zstd")
    analyze_bloom(spark, d, _DDL, ["k"], bits=1 << 10, k=3)
    assert _planned(d, [EqualTo(("k",), 7)]) == {"b.4mz"}
    assert _planned(d, [EqualTo(("k",), 12345)]) == set()


def test_analyze_bloom_validation(spark, tmp_path):
    import pytest

    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "v")
    _write_unclustered(spark, d, n_files=1, rows=10)
    with pytest.raises(ValueError, match="bits"):
        analyze_bloom(spark, d, _DDL, ["k"], bits=100)
    with pytest.raises(ValueError, match="k must"):
        analyze_bloom(spark, d, _DDL, ["k"], k=0)
    with pytest.raises(ValueError, match="not in schema"):
        analyze_bloom(spark, d, _DDL, ["nope"])
    with pytest.raises(ValueError, match="bloom-eligible"):
        analyze_bloom(spark, d, _DDL, ["v"])  # double: equality-hazard
    with pytest.raises(ValueError, match="at least one"):
        analyze_bloom(spark, d, _DDL, [])


def test_block_tier_blooms_prune_within_files(spark, tmp_path):
    """block_bits seals a per-BLOCK bloom tier: a point probe inside a
    kept file plans only the blocks that may hold the value — on ANY
    layout, no clustering required. Exactness is pinned by comparing
    the pruned read against the full data, and the plan shrinkage by
    counting planned partitions."""
    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo

    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "blb")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    # ONE file, many small blocks (16 KiB): the file tier can't help a
    # probe here — only the block tier can shrink the plan
    (df.coalesce(1)
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 16 * 1024)
       .mode("overwrite").save(d))
    res = analyze_bloom(
        spark, d, _DDL, ["k"], bits=1 << 14, k=5,
        block_bits=1 << 12, block_k=4,
    )
    assert res["block_bits"] == 1 << 12
    meta = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    bb = meta["bloom_blocks"]
    assert bb["bits"] == 1 << 12 and bb["k"] == 4
    assert bb["fam"] == {"k": "int"}
    assert len(bb["blocks"]) > 3  # genuinely multi-block

    schema = _parse_flat_ddl(_DDL)
    opts = CaseInsensitiveDict(
        {"path": d, "jsonschema": _DDL, "maxblockspersplit": "1"}
    )

    def n_parts(filters):
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return len([p for p in iter_slices(rd.partitions()) if p.path])

    full = n_parts([])
    probed = n_parts([EqualTo(("k",), 57)])
    assert 1 <= probed < full  # blocks dropped inside the kept file
    # exactness: pruned reads return exactly the probed rows (both
    # line-ownership seams exercised across many block boundaries)
    typed = spark.read.format("fourmc").option("jsonschema", _DDL).load(d)
    for probe in (0, 57, 1999):
        got = [r["k"] for r in typed.filter(F.col("k") == probe).collect()]
        assert got == [probe]
        typed = spark.read.format("fourmc").option(
            "jsonschema", _DDL
        ).load(d)  # fresh relation per filter set (readInfo cache)


def test_block_bloom_conservative_matrix(spark, tmp_path):
    """The block tier's conservative matrix: a foreign algo or seed in
    the bloom_blocks header, bits not a multiple of 8, one block's
    bitmap of the wrong length, header fam drift against the read
    schema, or a non-dict block entry => the block is SCANNED."""
    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo

    from fourmc_spark.operators.maintenance import analyze_bloom
    from fourmc_spark.sources import datasource

    d = str(tmp_path / "blcons")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.coalesce(1)
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 16 * 1024)
       .mode("overwrite").save(d))
    analyze_bloom(
        spark, d, _DDL, ["k"], bits=1 << 14, k=5,
        block_bits=1 << 12, block_k=4,
    )
    sc = sorted(_glob.glob(f"{d}/*.stats.json"))[0]
    meta = _json.load(open(sc))
    schema = _parse_flat_ddl(_DDL)
    opts = CaseInsensitiveDict(
        {"path": d, "jsonschema": _DDL, "maxblockspersplit": "1"}
    )

    def starts(filters):
        datasource._SIDECAR_CACHE.clear()
        rd = FourMcDataSourceReader(opts, schema)
        list(rd.pushFilters(filters))
        return {s.start for s in iter_slices(rd.partitions())}

    def rewrite(mutate):
        m = _json.loads(_json.dumps(meta))
        mutate(m["bloom_blocks"])
        with open(sc, "w") as f:
            _json.dump(m, f)

    probe = [EqualTo(("k",), 57)]
    full = starts([])
    kept = starts(probe)
    assert 1 <= len(kept) < len(full)  # the block tier drops blocks
    # the first block entry the probe dropped
    i, victim = next(
        (i, b["o"]) for i, b in enumerate(meta["bloom_blocks"]["blocks"])
        if b["o"] not in kept
    )
    # header mutations: no block of the file is dropped
    for mutate in (
        lambda bb: bb.update({"algo": "sha1-str"}),
        lambda bb: bb.update({"seed": 0}),
        lambda bb: bb.update({"bits": bb["bits"] - 4}),
        lambda bb: bb["fam"].update({"k": "str"}),
    ):
        rewrite(mutate)
        assert starts(probe) == full
    # block mutations: exactly that block comes back
    for mutate in (
        lambda bb: bb["blocks"][i]["c"].update({"k": "AAAA"}),
        lambda bb: bb["blocks"][i].update({"c": [bb["blocks"][i]["c"]]}),
    ):
        rewrite(mutate)
        assert starts(probe) == kept | {victim}
    rewrite(lambda bb: None)
    assert starts(probe) == kept


def test_compact_carries_block_blooms(spark, tmp_path):
    """compact_blocks carries bloom_blocks by offset remap with the
    text seam rule; probes over the compacted tree stay exact."""
    from fourmc_spark.operators.maintenance import analyze_bloom, compact_blocks

    staged = str(tmp_path / "staged")
    out = str(tmp_path / "out")
    # multi-block inputs: the text seam rule drops each input's LAST
    # copied block entry, so single-block inputs would carry nothing
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartition(4)
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("blocksize", 8 * 1024)
       .mode("overwrite").save(staged))
    analyze_bloom(
        spark, staged, _DDL, ["k"], bits=1 << 14, k=5,
        block_bits=1 << 12, block_k=4,
    )
    total = sum(
        os.path.getsize(p) for p in _glob.glob(f"{staged}/part-*.4mz")
    )
    stats = compact_blocks(spark, staged, out, target_bytes=max(1, total))
    assert stats["stats_carried"] == stats["outputs"] >= 1
    metas = [_json.load(open(p)) for p in _glob.glob(f"{out}/*.stats.json")]
    assert any(m.get("bloom_blocks", {}).get("blocks") for m in metas)
    got = sorted(
        r["k"]
        for r in spark.read.format("fourmc").option("jsonschema", _DDL)
        .load(out).filter(F.col("k").isin([3, 57, 399])).collect()
    )
    assert got == [3, 57, 399]


def test_sidecar_cache_serves_fresh_meta(spark, tmp_path):
    """The parsed-sidecar cache is keyed on (sidecar size, mtime_ns,
    data size): re-ANALYZE after a data change must never serve the old
    zone map from cache."""
    import time as _time

    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats

    d = str(tmp_path / "cache")
    os.makedirs(d)
    f = os.path.join(d, "a.4mz")
    write_file(f, b'{"k": 1, "name": "x"}\n', codec="zstd")
    analyze_stats(spark, d, _DDL)
    assert _planned(d, [EqualTo(("k",), 500)]) == set()  # pruned, cached
    # rewrite the data and re-ANALYZE: the new sidecar (new mtime) must
    # be loaded, and k=500 now matches
    _time.sleep(0.01)  # ensure a distinct mtime_ns tick
    write_file(f, b'{"k": 500, "name": "y"}\n{"k": 501, "name": "z"}\n',
               codec="zstd")
    analyze_stats(spark, d, _DDL)
    assert _planned(d, [EqualTo(("k",), 500)]) == {"a.4mz"}
    got = (spark.read.format("fourmc").option("jsonschema", _DDL).load(d)
           .filter(F.col("k") == 500).count())
    assert got == 1


def test_bloom_never_false_negative_property():
    """Hypothesis pin on the pure contract (no Spark): any value sealed
    into a bitmap via the shared derivation ALWAYS probes as present,
    under any geometry — a false negative would silently drop rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fourmc_spark.format.native import xxh64
    from fourmc_spark.sources.datasource import (
        bloom_positions, seal_bloom_spec,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                st.text(max_size=40),
            ),
            min_size=1,
            max_size=30,
        ),
        bits_pow=st.integers(min_value=6, max_value=16),
        k=st.integers(min_value=1, max_value=16),
    )
    def check(vals, bits_pow, k):
        bits = 1 << bits_pow
        bm = bytearray(bits // 8)
        for v in vals:
            h = xxh64(str(v).encode("utf-8"), BLOOM_SEED)
            for p in bloom_positions(h, k, bits):
                bm[p >> 3] |= 1 << (p & 7)
        for fam, sub in (
            ("int", [v for v in vals if isinstance(v, int)]),
            ("str", [v for v in vals if isinstance(v, str)]),
        ):
            if not sub:
                continue
            meta = {
                "bloom": {"c": seal_bloom_spec(bytes(bm), bits, k, fam)}
            }
            for v in sub:
                # a sealed value must NEVER prune its own file
                assert not _file_pruned(
                    meta, {"c": {v}}, {"c": fam}
                )

    check()


# ---------------------------------------------------------------------------
# coexistence + carry
# ---------------------------------------------------------------------------

def test_analyze_stats_and_bloom_coexist_any_order(spark, tmp_path):
    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats

    d = str(tmp_path / "coex")
    _write_unclustered(spark, d, n_files=2, rows=100)
    analyze_bloom(spark, d, _DDL, ["k"], bits=1 << 12, k=4)
    analyze_stats(spark, d, _DDL)  # must NOT drop the bloom tier
    meta = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    assert "bloom" in meta and "columns" in meta and "blocks" in meta
    d2 = str(tmp_path / "coex2")
    _write_unclustered(spark, d2, n_files=2, rows=100)
    analyze_stats(spark, d2, _DDL)
    analyze_bloom(spark, d2, _DDL, ["k"], bits=1 << 12, k=4)  # amends
    meta2 = _json.load(open(sorted(_glob.glob(f"{d2}/*.stats.json"))[0]))
    assert "bloom" in meta2 and "columns" in meta2 and "blocks" in meta2


def test_merge_carried_blooms_or_and_mismatch_drop():
    from fourmc_spark.operators.maintenance import _merge_carried_blooms

    def spec(bm: bytes, **over):
        s = {"algo": BLOOM_ALGO, "seed": BLOOM_SEED, "bits": len(bm) * 8,
             "k": 3, "fam": "int", "b64": base64.b64encode(bm).decode()}
        s.update(over)
        return s

    a = {"bloom": {"k": spec(b"\x01\x00"), "t": spec(b"\x10\x00"),
                   "u": spec(b"\x01\x00")}}
    b = {"bloom": {"k": spec(b"\x02\x80"), "t": spec(b"\x10\x00", k=4),
                   "u": spec(b"\x01\x00", fam="str")}}
    merged = _merge_carried_blooms([a, b])
    assert base64.b64decode(merged["k"]["b64"]) == b"\x03\x80"  # bitwise OR
    assert merged["k"]["fam"] == "int"  # contract fields carried intact
    assert "t" not in merged  # k mismatch: dropped, never mis-probes
    assert "u" not in merged  # fam mismatch: dropped too
    # any input without a bloom for the column drops it
    assert _merge_carried_blooms([a, {"bloom": {}}]) == {}
    assert _merge_carried_blooms([a, {}]) == {}


def test_sink_bloomcolumns_seals_and_prunes(spark, tmp_path):
    """Write-time blooms: .option('bloomcolumns', ...) riding
    statsschema seals per-file bitmaps from the exact rows each file
    received — point probes prune immediately, no ANALYZE pass."""
    import pytest

    d = str(tmp_path / "sinkbl")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 7).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartition(4)
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("statsschema", _DDL)
       .option("bloomcolumns", "k,name")
       .option("bloombits", str(1 << 14)).option("bloomk", "5")
       .mode("overwrite").save(d))
    metas = [_json.load(open(p)) for p in _glob.glob(f"{d}/*.stats.json")]
    assert len(metas) == 4
    assert all(set(m["bloom"]) == {"k", "name"} for m in metas)
    assert all("columns" in m for m in metas)  # zone tier still sealed
    # never-opened pin: zero the files that don't hold the probed ids
    per_file = _ids_per_file(spark, d)
    probe = sorted(next(iter(per_file.values())))[:2]
    for f, ids in per_file.items():
        if not ids & set(probe):
            path = os.path.join(d, f)
            sz = os.path.getsize(path)
            with open(path, "wb") as fh:
                fh.write(b"\x00" * sz)
    got = sorted(
        r["k"]
        for r in spark.read.format("fourmc").option("jsonschema", _DDL)
        .load(d).filter(F.col("k").isin([int(x) for x in probe])).collect()
    )
    assert got == sorted(probe)
    # validation: bloomcolumns without statsschema / bad field / float
    base = df.select(F.to_json(F.struct("k", "name", "v")).alias("value"))
    with pytest.raises(Exception, match="requires statsschema"):
        (base.write.format("fourmc").option("bloomcolumns", "k")
         .mode("overwrite").save(str(tmp_path / "x1")))
    with pytest.raises(Exception, match="not in"):
        (base.write.format("fourmc").option("statsschema", _DDL)
         .option("bloomcolumns", "zz")
         .mode("overwrite").save(str(tmp_path / "x2")))
    with pytest.raises(Exception, match="bloom-eligible"):
        (base.write.format("fourmc").option("statsschema", _DDL)
         .option("bloomcolumns", "v")
         .mode("overwrite").save(str(tmp_path / "x3")))


def test_sink_blooms_equal_analyze_bloom_bitmaps(spark, tmp_path):
    """The sink's write-time bitmaps (Arrow's int -> string cast) are
    bit-for-bit the ones analyze_bloom (Spark's CAST AS STRING) computes
    over the same files with the same geometry — negative ints, "", non-ASCII
    text, values of 32+ bytes (the XXH64 stripe path) and NULLs, each
    file fed by several batches, with maxfilebytes rolling under
    partitionby."""
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "contract")
    ddl = "k bigint, s string"
    bits, k = 1 << 16, 5
    i = F.col("id")
    df = spark.range(30000).select(
        F.when(i % 11 == 0, None).otherwise((i - 15000) * 7919).alias("k"),
        F.when(i % 13 == 0, None)
        .when(i % 17 == 0, F.lit(""))
        .when(i % 3 == 0, F.concat(F.lit("ünïcødé ✓ "), i))
        .when(i % 3 == 1, F.concat(F.lit("y" * 40), F.sha1(i.cast("string"))))
        .otherwise(F.concat(F.lit("s"), i)).alias("s"),
        (i % 3).alias("p"),
    )
    (df.coalesce(2)
       .select("p", F.to_json(F.struct("k", "s")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .option("statsschema", ddl).option("bloomcolumns", "k,s")
       .option("bloombits", str(bits)).option("bloomk", str(k))
       .option("partitionby", "p")
       .option("blocksize", 4096).option("maxfilebytes", 48 * 1024)
       .mode("overwrite").save(d))
    stats = sorted(_glob.glob(f"{d}/p=*/*.stats.json"))
    sink = {p: _json.load(open(p)) for p in stats}
    # rolled: more files than (task, partition dir) pairs; and some file
    # holds more rows than one 4096-row sub-batch gives a partition dir
    assert len(stats) > 6
    assert max(m["rows"] for m in sink.values()) > 4096 // 3 + 1
    assert sum(m["rows"] for m in sink.values()) == 30000
    analyze_bloom(spark, d, ddl, ["k", "s"], bits=bits, k=k)
    for p, m in sink.items():
        jvm = _json.load(open(p))["bloom"]
        for c in ("k", "s"):
            assert m["bloom"][c] == jvm[c], (p, c)
            set_bits = int.from_bytes(
                base64.b64decode(jvm[c]["b64"]), "little"
            ).bit_count()
            assert 0 < set_bits < bits // 2  # neither empty nor saturated


def test_analyze_stats_proto_bloom_tier(spark, tmp_path):
    """Proto twin: blooms sealed in the SAME decode pass as the zone
    stats, probed by the fourmcproto reader's shared pushdown —
    non-matching files zeroed in place are never opened."""
    import pytest

    from fourmc_spark.format.protobuf import ProtoField
    from fourmc_spark.operators.maintenance import analyze_stats_proto

    fields = (
        ProtoField(1, "k", "int64"),
        ProtoField(2, "name", "string"),
    )
    fjson = _json.dumps(
        [{"number": 1, "name": "k", "type": "int64"},
         {"number": 2, "name": "name", "type": "string"}]
    )
    d = str(tmp_path / "pb")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 5).alias("name"),
    )
    (df.repartition(3).write.format("fourmcproto")
       .option("fields", fjson).option("codec", "zstd")
       .mode("overwrite").save(d))
    res = analyze_stats_proto(
        spark, d, fields=fields, bloom_columns=["k", "name"],
        bloom_bits=1 << 14, bloom_k=5,
    )
    assert res["files"] == 3 and res["bloom_columns"] == ["k", "name"]
    meta = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    assert set(meta["bloom"]) == {"k", "name"}
    assert "columns" in meta and "blocks" in meta  # zone tier intact
    # the probe prunes through the proto reader end-to-end
    rdr = spark.read.format("fourmcproto").option("fields", fjson)
    assert {r["k"] for r in rdr.load(d).collect()} == set(range(300))
    # zero two of three files (size-preserving); probe ids from the
    # survivor only — found iff bloom pruning skipped the zeroed files
    files = sorted(_glob.glob(f"{d}/part-*.4mz"))
    keep = files[0]
    kept_ids = set()
    from fourmc_spark.format.protobuf import iter_eb_records_for_split
    from fourmc_spark.format.reader import scan_file_info
    codec, fsize, _ = scan_file_info(keep)
    with open(keep, "rb") as f:
        for _o, rec in iter_eb_records_for_split(f, codec, 0, fsize, fields):
            kept_ids.add(rec["k"])
    probe = sorted(kept_ids)[:2]
    for p in files[1:]:
        sz = os.path.getsize(p)
        with open(p, "wb") as fh:
            fh.write(b"\x00" * sz)
    got = sorted(
        r["k"] for r in rdr.load(d)
        .filter(F.col("k").isin([int(x) for x in probe])).collect()
    )
    assert got == sorted(probe)
    # string probes work through the same contract
    assert rdr.load(d).filter(F.col("name") == "zzz").count() == 0
    # validation: float fields are refused
    with pytest.raises(ValueError, match="bloom-eligible"):
        analyze_stats_proto(
            spark, d,
            fields=fields + (ProtoField(3, "v", "double"),),
            bloom_columns=["v"],
        )


def test_proto_block_tier_blooms(spark, tmp_path):
    """analyze_stats_proto's bloom_block_bits seals per-block bitmaps
    keyed by the sync-marker-owner offset; the shared planner drops
    non-matching blocks inside kept proto files and reads stay exact."""
    from pyspark.sql.datasource import CaseInsensitiveDict, EqualTo

    from fourmc_spark.format.protobuf import ProtoField
    from fourmc_spark.operators.maintenance import analyze_stats_proto
    from fourmc_spark.sources.protobuf import FourMcProtoReader

    fields = (ProtoField(1, "k", "int64"), ProtoField(2, "name", "string"))
    fjson = _json.dumps(
        [{"number": 1, "name": "k", "type": "int64"},
         {"number": 2, "name": "name", "type": "string"}]
    )
    d = str(tmp_path / "pbb")
    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("name"),
    )
    (df.coalesce(1).write.format("fourmcproto")
       .option("fields", fjson).option("codec", "zstd")
       .option("blocksize", 16 * 1024)
       .mode("overwrite").save(d))
    res = analyze_stats_proto(
        spark, d, fields=fields, bloom_columns=["k"],
        bloom_bits=1 << 14, bloom_k=5,
        bloom_block_bits=1 << 12, bloom_block_k=4,
    )
    assert res["files"] == 1
    meta = _json.load(open(sorted(_glob.glob(f"{d}/*.stats.json"))[0]))
    bb = meta["bloom_blocks"]
    assert bb["bits"] == 1 << 12 and bb["fam"] == {"k": "int"}
    assert len(bb["blocks"]) > 3

    from pyspark.sql.types import StructType

    def n_parts(filters):
        opts = CaseInsensitiveDict(
            {"path": d, "fields": fjson, "maxblockspersplit": "1"}
        )
        from fourmc_spark.format.protobuf import spark_struct

        rd = FourMcProtoReader(opts, spark_struct(fields))
        list(rd.pushFilters(filters))
        return len([p for p in iter_slices(rd.partitions()) if p.path])

    full = n_parts([])
    probed = n_parts([EqualTo(("k",), 1234)])
    assert 1 <= probed < full
    rdr = spark.read.format("fourmcproto").option("fields", fjson)
    for probe in (0, 1234, 2999):
        got = [r["k"] for r in rdr.load(d).filter(F.col("k") == probe).collect()]
        assert got == [probe]
        rdr = spark.read.format("fourmcproto").option("fields", fjson)


def test_compact_blocks_carries_blooms(spark, tmp_path):
    """End-to-end: analyze_bloom -> compact_blocks -> probes over the
    compacted tree still find every row (OR-merge lost no bit) and
    still prune out-of-domain points."""
    from fourmc_spark.operators.maintenance import analyze_bloom, compact_blocks

    staged = str(tmp_path / "staged")
    out = str(tmp_path / "out")
    _write_unclustered(spark, staged, n_files=4, rows=400)
    analyze_bloom(spark, staged, _DDL, ["k"], bits=1 << 14, k=5)
    total = sum(
        os.path.getsize(p) for p in _glob.glob(f"{staged}/part-*.4mz")
    )
    stats = compact_blocks(spark, staged, out, target_bytes=max(1, total // 2))
    assert stats["stats_carried"] == stats["outputs"] >= 1
    metas = [_json.load(open(p)) for p in _glob.glob(f"{out}/*.stats.json")]
    assert metas and all("bloom" in m for m in metas)
    got = sorted(
        r["k"]
        for r in spark.read.format("fourmc").option("jsonschema", _DDL)
        .load(out).filter(F.col("k").isin([3, 57, 399])).collect()
    )
    assert got == [3, 57, 399]
    assert _planned(out, [EqualTo(("k",), 10_000)]) == set()


def test_partial_bitmap_merge_is_partitioning_invariant(
    spark, tmp_path, monkeypatch
):
    """r10 optimization pin: analyze_bloom's one-exchange partial-bitmap
    aggregation (per-task OR folds merged per file) seals byte-identical
    sidecars no matter how the planner splits the file — forcing one
    block per task must change nothing, because bitmap OR is
    associative/commutative and duplicate positions set the same bit."""
    import fourmc_spark.sources.datasource as D
    from fourmc_spark.operators.maintenance import analyze_bloom

    d = str(tmp_path / "pinv")
    # small blocks: one block per task must really split each file
    _write_unclustered(spark, d, n_files=2, rows=600, blocksize=2048)

    def _seal_and_read(maxpb):
        if maxpb:
            # the planner's defaults, read when ANALYZE builds its reader
            monkeypatch.setattr(D, "DEFAULT_MAX_PARTITION_BYTES", maxpb)
            monkeypatch.setattr(D, "DEFAULT_MAX_BLOCKS_PER_SPLIT", 1)
        try:
            analyze_bloom(
                spark, d, _DDL, ["k", "name"],
                bits=1 << 12, k=4, block_bits=1 << 10,
            )
        finally:
            monkeypatch.undo()
        out = {}
        for sc in sorted(_glob.glob(f"{d}/*.stats.json")):
            with open(sc) as f:
                meta = _json.load(f)
            out[os.path.basename(sc)] = (
                meta["bloom"], meta.get("bloom_blocks"),
            )
            os.remove(sc)
        return out

    whole = _seal_and_read(None)       # one split per file
    split = _seal_and_read(1)          # one block per split
    assert whole == split
    assert whole  # sanity: something was sealed
    assert all(len(bb["blocks"]) > 2 for _, bb in whole.values())


def _scalar_blooms(path, fmt, names, cols, bits, k, block_bits, bk):
    """The bloom bitmaps of one file built one value at a time: lines
    split by ``iter_lines_for_split`` (whose owner offsets are the block
    keys), parsed with ``json``/``csv``, each non-null value's ``str``
    hashed with the scalar ``xxh64`` and set through ``bloom_positions``.
    Returns ``({col: file bitmap}, {block offset: {col: bitmap}})``."""
    import csv

    from fourmc_spark.format.native import xxh64
    from fourmc_spark.format.reader import iter_lines_for_split, scan_file_info
    from fourmc_spark.sources.datasource import bloom_positions

    def setbits(bm, h, n_k, n_bits):
        for p in bloom_positions(h, n_k, n_bits):
            bm[p >> 3] |= 1 << (p & 7)

    codec, fsize, _ = scan_file_info(path)
    files = {c: bytearray(bits // 8) for c in cols}
    blocks: dict = {}
    with open(path, "rb") as f:
        for owner, line in iter_lines_for_split(f, codec, 0, fsize):
            text = line.decode("utf-8")
            if not text:
                rec = {}  # a NULL record
            elif fmt == "json":
                rec = _json.loads(text)
            else:
                fields = next(csv.reader([text], escapechar="\\"))
                rec = {n: (v or None) for n, v in zip(names, fields)}
                if rec.get("k") is not None:
                    rec["k"] = int(rec["k"])  # the declared bigint
            blk = blocks.setdefault(
                owner, {c: bytearray(block_bits // 8) for c in cols}
            )
            for c in cols:
                if rec.get(c) is None:
                    continue
                h = xxh64(str(rec[c]).encode("utf-8"), BLOOM_SEED)
                setbits(files[c], h, k, bits)
                setbits(blk[c], h, bk, block_bits)
    return files, blocks


def test_analyze_bloom_matches_scalar_build(spark, tmp_path):
    """Every file and block bitmap analyze_bloom seals equals a scalar
    build over the same lines (:func:`_scalar_blooms`), for an NDJSON
    and a CSV tree with both tiers at different k. One high-NDV file
    (dense partials) spans several scan partitions and holds values of
    32+ bytes, negative ints and ""; one low-NDV file (sparse partials)
    holds a NULL record and a run of rows whose bloom columns are all
    NULL, long enough to fill whole blocks — those blocks must seal
    all-zero bitmaps, not be missing."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.format.reader import scan_file_info
    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_bloom

    ddl = "k bigint, s string, v string"
    names, cols = ["k", "s", "v"], ["k", "s"]
    bits, k, block_bits, bk = 1 << 14, 5, 1 << 10, 3
    pad = "p" * 60

    def hi_row(i):
        kv = None if i % 11 == 0 else (i - 3000) * 7919
        if i % 13 == 0:
            sv = None
        elif i % 3 == 0:
            sv = f"ünïcødé ✓ {i}"
        else:
            sv = "y" * 40 + str(i)
        return kv, sv, pad[: i % 7]

    def lo_row(i):
        if 200 <= i < 400:  # whole blocks of all-NULL bloom columns
            return None, None, pad
        return i % 5, ("a", "b", "ünï")[i % 3], "x"

    hi = [hi_row(i) for i in range(6000)]
    lo = [lo_row(i) for i in range(500)]
    for fmt in ("json", "csv"):
        d = tmp_path / fmt
        d.mkdir()
        for name, rows, codec in (("part-hi.4mc", hi, "lz4"),
                                  ("part-lo.4mz", lo, "zstd")):
            lines = []
            for row in rows:
                if fmt == "json":
                    lines.append(_json.dumps(
                        {n: v for n, v in zip(names, row) if v is not None},
                        ensure_ascii=False,
                    ))
                else:
                    lines.append(",".join("" if v is None else str(v)
                                          for v in row))
            if name == "part-lo.4mz":
                lines.insert(17, "")  # a NULL record
            data = ("\n".join(lines) + "\n").encode("utf-8")
            write_file(str(d / name), data, codec=codec, block_size=2048)
        # the high-NDV file spans several scan partitions
        hi_path = str(d / "part-hi.4mc")
        assert len(scan_file_info(hi_path)[2]) > 2 * 64
        rd = FourMcDataSourceReader(
            CaseInsensitiveDict({"path": str(d)}),
            _parse_flat_ddl("offset bigint, value string"),
        )
        parts = [[s.path for s in p.slices()] for p in rd.partitions()]
        assert sum(hi_path in p for p in parts) >= 3

        analyze_bloom(spark, str(d), ddl, cols, bits=bits, k=k,
                      block_bits=block_bits, block_k=bk, record_format=fmt)
        saw_null_block = False
        for name, sparse in (("part-hi.4mc", False), ("part-lo.4mz", True)):
            path = str(d / name)
            want_files, want_blocks = _scalar_blooms(
                path, fmt, names, cols, bits, k, block_bits, bk
            )
            meta = _json.load(open(path + ".stats.json"))
            for c in cols:
                got = base64.b64decode(meta["bloom"][c]["b64"])
                assert got == bytes(want_files[c]), (fmt, name, c)
                # the dense/sparse wire choice: a partial ships sparse
                # when under 1/32 of its bits are set
                n_set = int.from_bytes(got, "little").bit_count()
                assert (32 * n_set < bits) == sparse, (fmt, name, n_set)
            bb = meta["bloom_blocks"]
            assert (bb["bits"], bb["k"]) == (block_bits, bk)
            got_blocks = {
                e["o"]: {c: base64.b64decode(e["c"][c]) for c in cols}
                for e in bb["blocks"]
            }
            assert [e["o"] for e in bb["blocks"]] == sorted(want_blocks)
            assert got_blocks == {
                o: {c: bytes(bm) for c, bm in per.items()}
                for o, per in want_blocks.items()
            }, (fmt, name)
            saw_null_block |= any(
                not any(any(bm) for bm in per.values())
                for per in want_blocks.values()
            )
        assert saw_null_block
