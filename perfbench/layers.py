"""Per-layer probes of the traced run: direct calls into each layer's
public functions, on the workload's own files and rows.

Each probe returns ``{metric: value}`` with names relative to its layer
and records one span per call into the layer.
"""

from __future__ import annotations

import json
import os
import statistics
import struct
import subprocess
import sys
import time

from perfbench import gen
from perfbench.trace import Tracer
from perfbench.workloads import ReadSpec, Workload, stored_bytes

HERE = os.path.dirname(os.path.abspath(__file__))


def _blocks(path: str) -> list[tuple[bytes, int]]:
    """(compressed payload, uncompressed size) of every block, located
    through the footer index and each block's 12-byte header."""
    from fourmc_spark.format import read_index

    with open(path, "rb") as f:
        _, index = read_index(f)
        f.seek(0)
        data = f.read()
    out = []
    for off in index.offsets:
        usize, csize, _ = struct.unpack_from(">III", data, off)
        out.append((data[off + 12: off + 12 + csize], usize))
    return out


def format_probe(files: list[tuple[str, str, str]], tracer: Tracer) -> dict:
    from fourmc_spark.format import compress_bytes, decompress_file, native, scan_file_info

    t0 = time.perf_counter()
    with tracer.span("format.scan_file_info"):
        n_blocks = sum(len(scan_file_info(p)[2]) for p, _, _ in files)
    info_s = time.perf_counter() - t0

    raw = {}
    t0 = time.perf_counter()
    with tracer.span("format.decompress_file"):
        for p, _, _ in files:
            raw[p] = decompress_file(p, verify=True, threads=1)
    dec_s = time.perf_counter() - t0
    n_raw = sum(len(r) for r in raw.values())
    comp = sum(os.path.getsize(p) for p, _, _ in files)

    blocks = {p: _blocks(p) for p, _, _ in files}
    decode = {"lz4": native.lz4_decompress, "zstd": native.zstd_decompress}
    t0 = time.perf_counter()
    with tracer.span("format.native_decompress"):
        for p, codec, _ in files:
            for payload, usize in blocks[p]:
                if len(payload) != usize:  # stored-raw blocks need no decode
                    decode[codec](payload, usize)
    ndec_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    with tracer.span("format.compress_bytes"):
        for p, codec, level in files:
            compress_bytes(bytes(raw[p]), codec=codec, level=level)
    comp_s = time.perf_counter() - t0

    encode = {"lz4": lambda b, lv: native.lz4_compress(b, native.LZ4_LEVELS[lv]),
              "zstd": lambda b, lv: native.zstd_compress(b, native.ZSTD_LEVELS[lv])}
    chunks = []
    for p, codec, level in files:
        pos, mv = 0, memoryview(raw[p])
        for _, usize in blocks[p]:
            chunks.append((codec, level, bytes(mv[pos:pos + usize])))
            pos += usize
    t0 = time.perf_counter()
    with tracer.span("format.native_compress"):
        for codec, level, chunk in chunks:
            encode[codec](chunk, level)
    ncomp_s = time.perf_counter() - t0

    return {
        "decompress_mbps_1t": n_raw / dec_s / 1e6,
        "native_decompress_mbps_1t": n_raw / ndec_s / 1e6,
        "compress_mbps_1t": n_raw / comp_s / 1e6,
        "native_compress_mbps_1t": n_raw / ncomp_s / 1e6,
        "scan_file_info_ms_per_file": info_s * 1e3 / len(files),
        "blocks_per_file": n_blocks / len(files),
        "ratio": n_raw / comp,
    }


def plan_probe(specs: list[ReadSpec], root: str, tracer: Tracer) -> dict:
    """One fresh interpreter per read; medians over the reads."""
    env = dict(os.environ, PYTHONPATH=root)
    rows = []
    for i, s in enumerate(specs):
        with tracer.span("sources.plan.subprocess", op=f"plan-{i}"):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "plan_probe.py"),
                 json.dumps({"options": s.options, "filters": s.filters})],
                env=env, capture_output=True, text=True, timeout=120, check=True,
            )
        rows.append(json.loads(out.stdout.strip().splitlines()[-1]))
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def _reader(spec: ReadSpec):
    from fourmc_spark.sources.datasource import FourMcDataSource
    from perfbench.plan_probe import make_filters

    ds = FourMcDataSource(spec.options)
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(make_filters(spec.filters)))
    return reader


def read_probe(specs: list[ReadSpec], tracer: Tracer) -> dict:
    """``reader.read(partition)`` in this process, without Spark."""
    rows = matching = 0
    elapsed = 0.0
    for s in specs:
        reader = _reader(s)
        parts = reader.partitions()
        t0 = time.perf_counter()
        with tracer.span("sources.read"):
            for p in parts:
                for batch in reader.read(p):
                    rows += batch.num_rows
        elapsed += time.perf_counter() - t0
        matching += s.matching
    return {"rows_per_s": rows / elapsed, "useful_row_ratio": matching / max(rows, 1)}


def sink_probe(wl: Workload, tracer: Tracer) -> dict:
    """``FourMcDataSourceWriter.write`` and ``commit`` called directly."""
    import shutil

    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.sources.datasource import FourMcDataSourceWriter

    opts, batches = wl.sink_input()
    shutil.rmtree(opts["path"], ignore_errors=True)
    w = FourMcDataSourceWriter(opts, StructType([StructField("value", StringType())]), True)
    nbytes = sum(sum(len(v) + 1 for v in b.column(0).to_pylist()) for b in batches)
    t0 = time.perf_counter()
    with tracer.span("sources.sink.write"):
        msgs = [w.write(iter([b])) for b in batches]
    t1 = time.perf_counter()
    with tracer.span("sources.sink.commit"):
        w.commit(msgs)
    t2 = time.perf_counter()
    data, side = stored_bytes(opts["path"])
    shutil.rmtree(opts["path"], ignore_errors=True)
    return {"write_mbps": nbytes / (t1 - t0) / 1e6, "commit_ms": (t2 - t1) * 1e3,
            "sidecar_bytes_per_data_byte": side / data}


# -- operators --------------------------------------------------------------------

OPERATOR_DOCS = 300


def operators_probe(spark, seed: int, work: str, tracer: Tracer,
                    groups: dict[str, tuple[float, float]]) -> tuple[dict, str]:
    """Each curation stage on a seeded corpus: its input persisted, its
    output forced with a ``noop`` write. One untimed pass warms the
    workers; the second is measured, each stage under its own job group
    (recorded in ``groups`` for the ledger). Returns (metrics, error)."""
    from pyspark.sql import functions as F

    from fourmc_spark.format import write_file
    from fourmc_spark.operators import curation, dedup, text as T

    docs, n_groups = gen.curate_docs(seed, OPERATOR_DOCS)
    path = os.path.join(work, "curate_in")
    os.makedirs(path, exist_ok=True)
    write_file(os.path.join(path, "docs.4mc"),
               "".join(f"{i}\t{s}\t{t}\n" for i, s, t in docs).encode())
    base = (
        spark.read.format("fourmc").load(path)
        .select(F.split("value", "\t").alias("f"))
        .select(F.col("f")[0].cast("long").alias("doc_id"),
                F.col("f")[1].alias("source"), F.col("f")[2].alias("text"))
        .persist()
    )
    lined = base.withColumn(
        "text", F.expr("replace(text, '. ', concat('.', char(10)))")).persist()
    base.count(), lined.count()
    sc = spark.sparkContext
    out: dict = {}
    err = ""
    for rep in range(2):
        made: dict = {}

        def stage(name, fn, keep=False):
            gid = f"operators.{name}.{rep}"
            sc.setJobGroup(gid, gid)
            t0w, t0 = time.time(), time.perf_counter()
            with tracer.span(f"operators.{name}", op=gid):
                df = fn()
                if keep:
                    df = df.persist()
                df.write.format("noop").mode("overwrite").save()
            if rep == 1:
                out[f"{name}_s"] = time.perf_counter() - t0
                groups[gid] = (t0w, time.time())
            made[name] = df

        stage("c4_line_clean", lambda: T.c4_line_clean(lined, min_words=3))
        stage("hashed_classifier_score", lambda: T.hashed_classifier_score(base))
        stage("exact_dedup", lambda: dedup.exact_dedup(base), keep=True)
        stage("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(base, threshold=0.8),
              keep=True)
        stage("chunk_documents", lambda: curation.chunk_documents(base, 512, 64))
        stage("pack_sequences", lambda: curation.pack_sequences(base, capacity=2048))
        stage("bpe_learn", lambda: T.bpe_learn(base, n_merges=32), keep=True)
        stage("bpe_encode", lambda: T.bpe_encode(base, made["bpe_learn"]), keep=True)
        stage("pack_token_sequences", lambda: curation.pack_token_sequences(
            made["bpe_encode"].join(base.select("doc_id", "source"), "doc_id"),
            seq_len=512))
        sc.setJobGroup("perfbench", "perfbench")
        dup_groups = made["exact_dedup"].where(F.col("n_copies") > 1).count()
        out["minhash_pairs"] = made["minhash_lsh_pairs"].count()
        if dup_groups != n_groups:
            err = f"exact_dedup found {dup_groups} duplicate groups, planted {n_groups}"
        elif out["minhash_pairs"] < n_groups:
            err = f"minhash_lsh_pairs found {out['minhash_pairs']} pairs, below {n_groups} planted exact copies"
        for df in made.values():
            df.unpersist()
    base.unpersist()
    lined.unpersist()
    return out, err
