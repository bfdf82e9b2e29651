"""Compaction: many small sealed files -> few large splittable ones,
content-preserving, reference-CLI-conformant output."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

REF_CLI = "/root/reference/tool/linux/amd64/4mc"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verify_container(path: str, zstd: bool) -> int:
    """Exit code of a full container check (every block checksum and the
    footer): the reference CLI when it is installed, else the package's
    own ``python -m fourmc_spark [-z] -f -t``."""
    cmd = [REF_CLI] if os.path.exists(REF_CLI) else [
        sys.executable, "-m", "fourmc_spark"]
    flags = ["-f", "-z", "-t"] if zstd else ["-f", "-t"]
    env = dict(os.environ, PYTHONPATH=_REPO)
    return subprocess.run(cmd + flags + [path], capture_output=True,
                          env=env).returncode


def test_compact_small_files(spark, tmp_path):
    from fourmc_spark.operators.maintenance import compact, layout_stats

    small = str(tmp_path / "small")
    big = str(tmp_path / "big")
    df = spark.range(50_000).select(
        F.concat(F.lit("row-"), F.col("id")).alias("value")
    )
    # simulate a streaming ingest's droppings: one file per partition x 16
    df.repartition(16).write.format("fourmc").option("codec", "lz4") \
        .option("level", "fast").mode("overwrite").save(small)
    before = layout_stats(small)
    assert before["n_files"] == 16

    n_out = compact(spark, small, big, codec="zstd", level="high",
                    target_file_bytes=before["total_bytes"])  # -> 1 file
    after = layout_stats(big)
    assert n_out == 1
    assert after["n_files"] == 1
    assert after["max_bytes"] < before["total_bytes"]  # recompressed smaller

    # content multiset preserved
    a = spark.read.format("fourmc").load(small).select("value")
    b = spark.read.format("fourmc").load(big).select("value")
    assert b.count() == 50_000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # compacted output verifies under the reference binary (zstd -> -z -t)
    if os.path.exists(REF_CLI):
        for f in os.listdir(big):
            if f.endswith(".4mz"):
                p = subprocess.run([REF_CLI, "-f", "-z", "-t", os.path.join(big, f)],
                                   capture_output=True)
                assert p.returncode == 0, p.stderr.decode()


def test_layout_stats_counts_unindexed_containers(tmp_path):
    """A .zst or Hadoop block-codec file has no footer index: layout_stats
    counts it as one block (one planned slice) instead of reading a
    footer it does not have."""
    from fourmc_spark.format import write_file, write_zst_file
    from fourmc_spark.format.hadoop_stream import write_hadoop_file
    from fourmc_spark.operators.maintenance import layout_stats

    d = tmp_path / "ds"
    d.mkdir()
    data = b"line\n" * 60_000
    write_file(str(d / "a.4mc"), data, codec="lz4", block_size=65536)
    write_hadoop_file(str(d / "b.lz4_fast"), data, "lz4", block_size=65536)
    write_hadoop_file(str(d / "c.zstd_uc"), data, "zstd", "ultra")
    write_zst_file(str(d / "d.zst"), data)
    s = layout_stats(str(d))
    # ceil(300000/65536) = 5 footer-indexed blocks, plus one per stream
    assert (s["n_files"], s["n_blocks"]) == (4, 8)


def test_layout_stats_counts_blocks(spark, tmp_path):
    from fourmc_spark.format import write_file
    from fourmc_spark.operators.maintenance import layout_stats

    d = tmp_path / "ds"
    d.mkdir()
    data = b"x" * 300_000
    write_file(str(d / "a.4mc"), data, codec="lz4", block_size=65536)
    write_file(str(d / "b.4mz"), data, codec="zstd", block_size=65536)
    s = layout_stats(str(d))
    assert s["n_files"] == 2
    # ceil(300000/65536) = 5 blocks each
    assert s["n_blocks"] == 10


def test_compact_partitioned_preserves_layout(spark, tmp_path):
    from fourmc_spark.operators.maintenance import compact_partitioned, layout_stats

    small = str(tmp_path / "psmall")
    big = str(tmp_path / "pbig")
    df = spark.range(8_000).select(
        F.concat(F.lit("r"), F.col("id")).alias("value"),
        (F.col("id") % 3).cast("string").alias("part"),
    )
    # 8 tasks x 3 partitions = up to 24 small files
    df.repartition(8).write.format("fourmc").option("codec", "lz4") \
        .option("partitionby", "part").mode("overwrite").save(small)
    assert layout_stats(small)["n_files"] > 3

    compact_partitioned(spark, small, big, ["part"],
                        target_file_bytes=1 << 30)
    after = layout_stats(big)
    assert after["n_files"] == 3  # one file per partition value
    import os as _os
    assert sorted(
        d for d in _os.listdir(big) if d.startswith("part=")
    ) == ["part=0", "part=1", "part=2"]

    a = spark.read.format("fourmc").option("partitioncolumns", "part").load(small)
    b = spark.read.format("fourmc").option("partitioncolumns", "part").load(big)
    assert b.count() == 8_000
    assert a.select("value", "part").exceptAll(b.select("value", "part")).count() == 0


# ---------------------------------------------------------------------------
# Raw block-copy compaction (compact_blocks, round 9)
# ---------------------------------------------------------------------------

import glob
import io

import pytest

from fourmc_spark.format.reader import decompress_file, scan_file_info
from fourmc_spark.format.writer import write_file
from fourmc_spark.operators.maintenance import (
    compact_blocks,
    compact_protobuf,
    plan_compaction,
)


def test_raw_copy_applies_the_block_size_caps(tmp_path):
    """The raw block copy checks block headers by the reader's rule: a
    header claiming more than 4 MiB is a BadBlockError naming the input,
    not a block copied into the compacted file."""
    from fourmc_spark.format import core
    from fourmc_spark.operators.maintenance import compact_group

    d = str(tmp_path / "in")
    os.makedirs(d)
    src = os.path.join(d, "a.4mc")
    write_file(src, b"row\n" * 2000, codec="lz4", block_size=1000)
    with open(src, "r+b") as f:  # the second block's uncompressed size
        f.seek(scan_file_info(src)[2][1])
        f.write((core.MAX_BLOCK_SIZE + 1).to_bytes(4, "big"))
    (plan,) = plan_compaction(d)
    with pytest.raises(core.BadBlockError, match="a.4mc: .*exceeds 4 MiB"):
        compact_group(plan, str(tmp_path / "out.4mc"))


def _mk_text_tree(d: str, n: int = 12, codec: str = "zstd") -> list[bytes]:
    os.makedirs(d, exist_ok=True)
    ext = ".4mz" if codec == "zstd" else ".4mc"
    contents = []
    for i in range(n):
        body = b"".join(f"f{i:02d}-row{j}\n".encode() for j in range(50))
        if i == 3:
            body = body[:-1]  # one input without a trailing newline
        write_file(os.path.join(d, f"in{i:04d}{ext}"), body,
                   codec=codec, level="fast")
        contents.append(body)
    return contents


def test_compact_text_raw_copy_roundtrip(spark, tmp_path):
    src = str(tmp_path / "c_in")
    out = str(tmp_path / "c_out")
    contents = _mk_text_tree(src)
    in_blocks = sum(len(scan_file_info(p)[2])
                    for p in sorted(glob.glob(f"{src}/*.4mz")))
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    outs = sorted(glob.glob(f"{out}/*.4mz"))
    assert len(outs) == 1 and stats["outputs"] == 1
    assert stats["inputs"] == 12 and stats["newline_fixes"] == 1
    # raw copy: every input block survives verbatim (+1 fix block)
    assert len(scan_file_info(outs[0])[2]) == in_blocks + 1
    want = b"".join(
        c if c.endswith(b"\n") else c + b"\n" for c in contents
    )
    assert decompress_file(outs[0]) == want
    # sealed-container proof: a full -t verify passes
    assert _verify_container(outs[0], zstd=True) == 0
    # and Spark reads the compacted tree to the same rows
    a = sorted(r["value"] for r in
               spark.read.format("fourmc").load(src).collect())
    b = sorted(r["value"] for r in
               spark.read.format("fourmc").load(out).collect())
    assert a == b


def test_compact_respects_target_bytes(spark, tmp_path):
    src = str(tmp_path / "t_in")
    _mk_text_tree(src, n=8)
    sizes = [os.path.getsize(p) for p in glob.glob(f"{src}/*.4mz")]
    target = sum(sizes) // 3
    plans = plan_compaction(src, target_bytes=target)
    assert len(plans) >= 3
    for p in plans[:-1]:
        assert p.est_bytes <= target or len(p.inputs) == 1
    # inputs keep name order inside each bin (arrival locality)
    flat = [i for p in plans for i in p.inputs]
    assert flat == sorted(flat)


def test_compact_mixed_codecs_bin_separately(spark, tmp_path):
    src = str(tmp_path / "m_in")
    out = str(tmp_path / "m_out")
    _mk_text_tree(src, n=4, codec="zstd")
    _mk_text_tree(src, n=4, codec="lz4")
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    assert stats["outputs"] == 2
    assert len(glob.glob(f"{out}/*.4mz")) == 1
    assert len(glob.glob(f"{out}/*.4mc")) == 1
    a = sorted(r["value"] for r in
               spark.read.format("fourmc").load(src).collect())
    b = sorted(r["value"] for r in
               spark.read.format("fourmc").load(out).collect())
    assert a == b


def test_compact_recompress_conversion(spark, tmp_path):
    src = str(tmp_path / "r_in")
    out = str(tmp_path / "r_out")
    contents = _mk_text_tree(src, n=4, codec="zstd")
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40, codec="lz4")
    outs = glob.glob(f"{out}/*.4mc")
    assert len(outs) == 1 and stats["outputs"] == 1
    want = b"".join(c if c.endswith(b"\n") else c + b"\n" for c in contents)
    assert decompress_file(outs[0]) == want
    assert _verify_container(outs[0], zstd=False) == 0


def test_compact_in_place_rejected(spark, tmp_path):
    src = str(tmp_path / "ip_in")
    _mk_text_tree(src, n=2)
    with pytest.raises(ValueError, match="NEW tree"):
        compact_blocks(spark, src, src)


def test_compact_protobuf_concat(spark, tmp_path):
    src = str(tmp_path / "p_in")
    out = str(tmp_path / "p_out")
    rows = [(f"u{i}", f"n{i}", "t", 1000 + i, [f"tag{i % 3}"])
            for i in range(400)]
    df = spark.createDataFrame(
        rows,
        "userId string, name string, type string, birthDate long, "
        "tags array<string>",
    )
    (df.repartition(8).write.format("fourmcproto").option("codec", "zstd")
     .mode("overwrite").save(src))
    assert len(glob.glob(f"{src}/*.4mz")) >= 4
    stats = compact_protobuf(spark, src, out, target_bytes=1 << 40)
    assert stats["outputs"] == 1 and stats["newline_fixes"] == 0
    back = sorted(
        r.userId for r in
        spark.read.format("fourmcproto").load(out).collect()
    )
    assert back == sorted(r[0] for r in rows)


def test_compact_preserves_hive_dirs(spark, tmp_path):
    """Partition values encoded ONLY in hive dir names must survive
    compaction: bins never cross a directory, and out_dir mirrors each
    input reldir (review finding r9: the old planner binned across
    directories and flattened key=value/ trees, losing the values)."""
    src = str(tmp_path / "h_in")
    out = str(tmp_path / "h_out")
    for b in ("bucket=eu", "bucket=us"):
        _mk_text_tree(os.path.join(src, b), n=3)
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    assert stats["outputs"] == 2
    assert sorted(os.listdir(out)) == ["bucket=eu", "bucket=us"]
    read = (
        spark.read.format("fourmc").option("partitioncolumns", "bucket")
        .load(out).groupBy("bucket").count().collect()
    )
    assert sorted((r["bucket"], r["count"]) for r in read) == [
        ("eu", 150), ("us", 150)
    ]


def test_compact_same_codec_explicit_reseal_coalesces_blocks(spark, tmp_path):
    """codec= equal to the inputs' codec must still take the reseal
    path (re-levelling / block coalescing), not silently raw-copy."""
    src = str(tmp_path / "s_in")
    out = str(tmp_path / "s_out")
    os.makedirs(src)
    for i in range(4):
        body = b"".join(f"f{i}-row{j}\n".encode() for j in range(200))
        write_file(os.path.join(src, f"in{i:04d}.4mz"), body,
                   codec="zstd", level="fast", block_size=256)
    in_blocks = sum(len(scan_file_info(p)[2])
                    for p in glob.glob(f"{src}/*.4mz"))
    assert in_blocks > 4  # many tiny blocks
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40,
                           codec="zstd", level="high")
    outs = glob.glob(f"{out}/*.4mz")
    assert len(outs) == 1 and stats["outputs"] == 1
    # resealed at the 4 MiB bound: tiny input blocks coalesce to one
    assert len(scan_file_info(outs[0])[2]) == 1
    a = sorted(r["value"] for r in
               spark.read.format("fourmc").load(src).collect())
    b = sorted(r["value"] for r in
               spark.read.format("fourmc").load(out).collect())
    assert a == b


def test_compact_skips_unindexed_containers(spark, tmp_path):
    """.zst / Hadoop block-codec files carry no footer index: they are
    skipped and reported, not a mid-planning BadHeaderError crash."""
    from fourmc_spark.format.writer import write_zst_file

    src = str(tmp_path / "z_in")
    out = str(tmp_path / "z_out")
    _mk_text_tree(src, n=3)
    write_zst_file(os.path.join(src, "events.zst"), b"a\nb\n")
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    assert stats["outputs"] == 1
    assert [os.path.basename(p) for p in stats["skipped"]] == ["events.zst"]
    assert not glob.glob(f"{out}/*.zst")


# ---------------------------------------------------------------------------
# Zone-map carrying through compaction (round 9)
# ---------------------------------------------------------------------------


def _mk_ndjson_tree(d: str, n_files: int = 4, rows: int = 100) -> None:
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        base = i * rows
        body = b"".join(
            b'{"k": %d, "v": %d}\n' % (base + j, (base + j) * 2)
            for j in range(rows)
        )
        write_file(os.path.join(d, f"in{i:04d}.4mz"), body,
                   codec="zstd", block_size=512)


def test_compact_carries_zone_maps(spark, tmp_path):
    """compact_blocks(carry_stats=True) forwards analyze_stats sidecars
    without re-analyzing: block entries remap to output offsets, file
    tiers merge, and the carried file tier equals a fresh ANALYZE of
    the compacted tree."""
    import json as _json

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import (
        STATS_SUFFIX, _load_zone_sidecar,
    )

    src = str(tmp_path / "zc_in")
    out = str(tmp_path / "zc_out")
    ddl = "k bigint, v bigint"
    _mk_ndjson_tree(src, n_files=4, rows=100)
    analyze_stats(spark, src, ddl)
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    assert stats["outputs"] == 1 and stats["stats_carried"] == 1
    outs = glob.glob(f"{out}/*.4mz")
    carried = _load_zone_sidecar(outs[0])
    assert carried is not None and carried.get("carried")
    assert carried["rows"] == 400
    assert carried["columns"]["k"] == {"min": 0, "max": 399, "nulls": 0}
    carried_block_offs = {b["o"] for b in carried["blocks"]}
    # carried entries land on REAL output block offsets
    from fourmc_spark.format.reader import scan_file_info
    real_offs = set(scan_file_info(outs[0])[2])
    assert carried_block_offs <= real_offs
    # fresh ANALYZE agrees on the file tier (rows + merged min/max/nulls)
    snapshot = dict(carried)
    analyze_stats(spark, out, ddl)
    fresh = _json.load(open(outs[0] + STATS_SUFFIX))
    assert fresh["rows"] == snapshot["rows"]
    assert fresh["columns"] == snapshot["columns"]
    # and carried block offsets are a subset of the fresh ones
    assert carried_block_offs <= {b["o"] for b in fresh["blocks"]}


def test_carried_stats_never_prune_the_seam_line(spark, tmp_path):
    """The concatenation seam: input B's FIRST line becomes owned by
    input A's LAST block in the output (its preceding byte is A's
    final newline). A's input-time last-block stats exclude that line,
    so carrying them verbatim would let a predicate matching only that
    line prune the block that now owns it. compact_group drops every
    input's last-block entry — the seam line must survive any pruning."""
    from pyspark.sql import functions as F

    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import _load_zone_sidecar

    src = str(tmp_path / "seam_in")
    out = str(tmp_path / "seam_out")
    ddl = "k bigint, v bigint"
    _mk_ndjson_tree(src, n_files=2, rows=100)  # A: k 0..99, B: k 100..199
    analyze_stats(spark, src, ddl)
    compact_blocks(spark, src, out, target_bytes=1 << 40)
    outf = glob.glob(f"{out}/*.4mz")[0]
    carried = _load_zone_sidecar(outf)
    # the seam block (A's last) has no entry; with per-block splits the
    # query that matches ONLY the seam-owned line must still find it.
    # One load() per query — the readInfo cache hazard pinned in
    # test_spark_readinfo_cache_hazard_characterized forbids reusing a
    # base DataFrame across differing filter sets.
    def typed():
        return (spark.read.format("fourmc").option("jsonschema", ddl)
                .option("maxblockspersplit", "1").load(out))

    assert typed().filter(F.col("k") == 100).count() == 1
    assert typed().count() == 200
    # range queries across the seam stay exact under carried pruning
    got = typed().filter((F.col("k") >= 95) & (F.col("k") < 105)) \
                 .agg(F.sum("k").alias("s")).first()["s"]
    assert got == sum(range(95, 105))
    assert carried and len(carried["blocks"]) > 0


def test_compact_without_input_sidecars_carries_nothing(spark, tmp_path):
    from fourmc_spark.sources.datasource import _load_zone_sidecar

    src = str(tmp_path / "nc_in")
    out = str(tmp_path / "nc_out")
    _mk_ndjson_tree(src, n_files=2)
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40)
    assert stats["stats_carried"] == 0
    assert _load_zone_sidecar(glob.glob(f"{out}/*.4mz")[0]) is None


def test_compact_carry_disabled_when_glue_possible(spark, tmp_path):
    """newline_fix=False + an unterminated non-final input glues lines
    across the seam; carried block stats would be too narrow for the
    block owning the glued line, so carry must shut off entirely."""
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import _load_zone_sidecar

    src = str(tmp_path / "glue_in")
    out = str(tmp_path / "glue_out")
    os.makedirs(src)
    write_file(os.path.join(src, "a.4mz"), b'{"k": 1, "v": 1}', codec="zstd")
    write_file(os.path.join(src, "b.4mz"), b'{"k": 2, "v": 2}\n',
               codec="zstd")
    analyze_stats(spark, src, "k bigint, v bigint")
    stats = compact_blocks(spark, src, out, target_bytes=1 << 40,
                           newline_fix=False)
    assert stats["stats_carried"] == 0
    assert _load_zone_sidecar(glob.glob(f"{out}/*.4mz")[0]) is None
    # terminated inputs with the fix off still carry
    out2 = str(tmp_path / "glue_out2")
    src2 = str(tmp_path / "glue_in2")
    os.makedirs(src2)
    write_file(os.path.join(src2, "a.4mz"), b'{"k": 1, "v": 1}\n',
               codec="zstd")
    write_file(os.path.join(src2, "b.4mz"), b'{"k": 2, "v": 2}\n',
               codec="zstd")
    analyze_stats(spark, src2, "k bigint, v bigint")
    stats2 = compact_blocks(spark, src2, out2, target_bytes=1 << 40,
                            newline_fix=False)
    assert stats2["stats_carried"] == 1


def test_compact_rerun_drops_stale_sidecar(spark, tmp_path):
    """Deterministic compact-NNNNNN names: a rerun into the same out_dir
    that does NOT carry stats must remove a sidecar left by an earlier
    carrying run — the size check alone could accept it on a size
    collision and then prune against the wrong data."""
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.sources.datasource import _load_zone_sidecar

    src = str(tmp_path / "rerun_in")
    out = str(tmp_path / "rerun_out")
    _mk_ndjson_tree(src, n_files=2, rows=50)
    analyze_stats(spark, src, "k bigint, v bigint")
    compact_blocks(spark, src, out, target_bytes=1 << 40)
    outf = glob.glob(f"{out}/*.4mz")[0]
    assert _load_zone_sidecar(outf) is not None
    # rerun without input sidecars (fresh un-analyzed inputs)
    src2 = str(tmp_path / "rerun_in2")
    _mk_ndjson_tree(src2, n_files=2, rows=50)
    stats = compact_blocks(spark, src2, out, target_bytes=1 << 40)
    assert stats["stats_carried"] == 0
    assert not os.path.exists(outf + ".stats.json")
    # and the reseal path also invalidates
    compact_blocks(spark, src, out, target_bytes=1 << 40)  # carried again
    outs = glob.glob(f"{out}/*.stats.json")
    assert outs
    compact_blocks(spark, src, out, target_bytes=1 << 40,
                   codec="zstd", level="high")  # forced reseal
    assert not glob.glob(f"{out}/*.stats.json")


def test_carried_merge_skips_incomparable_columns(tmp_path):
    """Inputs analyzed under different DDLs for the same column name
    (string vs bigint min/max) must not crash the merge; the column is
    skipped (conservative) while comparable columns survive."""
    import json as _json

    from fourmc_spark.operators.maintenance import _write_carried_sidecar
    from fourmc_spark.sources.datasource import STATS_SUFFIX

    outf = str(tmp_path / "m.4mz")
    write_file(outf, b"x\n", codec="zstd")
    metas = [
        {"rows": 1, "columns": {"k": {"min": 5, "max": 9, "nulls": 0},
                                "v": {"min": 1, "max": 2, "nulls": 0}}},
        {"rows": 1, "columns": {"k": {"min": "abc", "max": "zzz", "nulls": 0},
                                "v": {"min": 3, "max": 4, "nulls": 0}}},
    ]
    _write_carried_sidecar(outf, metas, [])
    sc = _json.load(open(outf + STATS_SUFFIX))
    assert "k" not in sc["columns"]
    assert sc["columns"]["v"] == {"min": 1, "max": 4, "nulls": 0}


def test_carried_unknown_null_count_stays_unknown(tmp_path):
    """An input whose sidecar states no null count (unknown) must not
    carry as 0 nulls: an IsNull filter would then prune an output file
    that holds nulls. The merged count is unknown, which never prunes."""
    import json as _json

    from fourmc_spark.operators.maintenance import _write_carried_sidecar
    from fourmc_spark.sources.datasource import (
        STATS_SUFFIX, _sidecar_dropped,
    )

    outf = str(tmp_path / "m.4mz")
    write_file(outf, b"x\n", codec="zstd")
    metas = [
        {"rows": 1, "columns": {"v": {"min": 1, "max": 2, "nulls": 0}}},
        {"rows": 1, "columns": {"v": {"min": 3, "max": 4}}},
    ]
    _write_carried_sidecar(outf, metas, [])
    sc = _json.load(open(outf + STATS_SUFFIX))
    assert sc["columns"]["v"] == {"min": 1, "max": 4, "nulls": None}
    assert _sidecar_dropped(sc, {}, {"v": {"null"}}, {}) == frozenset()


def test_non_object_sidecar_is_ignored(tmp_path):
    """A sidecar holding valid JSON that is not an object is unusable:
    the loader every reader and builder shares treats it as stale
    instead of raising, so planning and sidecar_health go on."""
    from fourmc_spark.operators.maintenance import sidecar_health
    from fourmc_spark.sources.datasource import (
        STATS_SUFFIX, _load_zone_sidecar,
    )

    f = str(tmp_path / "a.4mz")
    write_file(f, b'{"k": 1}\n', codec="zstd")
    with open(f + STATS_SUFFIX, "w") as fh:
        fh.write("[1, 2]")
    assert _load_zone_sidecar(f) is None
    health = sidecar_health(str(tmp_path))
    assert (health["stale"], health["with_sidecar"]) == (1, 0)


def test_sidecar_health_report(spark, tmp_path):
    """sidecar_health: valid/stale/missing accounting and tier flags,
    metadata-only."""
    import glob as _glob
    import json as _json
    import os

    from pyspark.sql import functions as F

    from fourmc_spark.operators.maintenance import (
        analyze_bloom, analyze_stats, sidecar_health,
    )

    d = str(tmp_path / "health")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 5).alias("name"),
        (F.col("id") * 0.5).alias("v"),
    )
    (df.repartition(3)
       .select(F.to_json(F.struct("k", "name", "v")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .mode("overwrite").save(d))
    ddl = "k bigint, name string, v double"
    h0 = sidecar_health(d)
    assert h0["n_files"] == 3 and h0["missing"] == 3
    analyze_stats(spark, d, ddl)
    analyze_bloom(spark, d, ddl, ["k"], bits=1 << 12, k=3,
                  block_bits=1 << 10)
    h1 = sidecar_health(d)
    assert h1["with_sidecar"] == 3 and h1["missing"] == 0
    assert h1["zone_files"] == 3 and h1["zone_blocks"] == 3
    assert h1["bloom_files"] == 3 and h1["bloom_blocks"] == 3
    assert h1["zone_columns"] == ["k", "name", "v"]
    assert h1["bloom_columns"] == ["k"]
    # rewrite one file -> its sidecar goes stale; orphan a sidecar
    f0 = sorted(_glob.glob(f"{d}/part-*.4mz"))[0]
    with open(f0, "ab") as fh:
        fh.write(b"x")
    with open(os.path.join(d, "gone.4mz.stats.json"), "w") as fh:
        _json.dump({"size": 1}, fh)
    h2 = sidecar_health(d)
    assert h2["stale"] == 1 and h2["with_sidecar"] == 2
    assert h2["orphan_sidecars"] == 1


@pytest.mark.parametrize("codec", ["zst", "lz4_fast"])
def test_compact_blocks_rejects_unindexed_codec_before_writing(
    spark, tmp_path, codec
):
    """compact_blocks writes 4mc/4mz framing only: a codec naming a
    container without a footer index raises, naming the codec, before
    the output tree is created, instead of silently resealing as the
    footer-indexed container of the same codec."""
    from fourmc_spark.format.writer import FourMcWriter

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _mk_text_tree(src, n=2)
    with pytest.raises(ValueError, match=rf"'{codec}'.*lz4\|zstd\|4mc\|4mz"):
        compact_blocks(spark, src, out, codec=codec)
    assert not os.path.exists(out)
    with pytest.raises(ValueError, match="footer index"):
        FourMcWriter(io.BytesIO(), codec=codec)


def test_compact_blocks_lists_the_input_tree_once(spark, tmp_path,
                                                   monkeypatch):
    """compact_blocks plans its bins and reports its skipped files from
    ONE listing of the input tree; its outputs follow plan_compaction's
    bins, and the skipped list names the tree's non-indexed file."""
    import fourmc_spark.operators.maintenance as M
    from fourmc_spark.format import write_zst_file

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _mk_text_tree(src, n=5)
    write_zst_file(os.path.join(src, "z.zst"), b"a\nb\n")
    want_plans = plan_compaction(src, 450)
    calls = []

    def counting(path):
        calls.append(path)
        return real(path)

    real = M._list_files
    monkeypatch.setattr(M, "_list_files", counting)
    stats = compact_blocks(spark, src, out, target_bytes=450)
    assert calls == [src]
    assert len(want_plans) > 1
    assert stats["skipped"] == [os.path.join(src, "z.zst")]
    assert [f["inputs"] for f in stats["files"]] == [
        len(p.inputs) for p in want_plans
    ]
    assert sum(p.est_bytes for p in want_plans) == sum(
        os.path.getsize(p) for p in glob.glob(f"{src}/*.4mz")
    )
