"""Dataset maintenance: small-file compaction and layout stats.

The small-files problem is the death of 100 TB pipelines: a streaming
ingest that seals a 4mc file per micro-batch per task leaves millions of
KB-sized files, and every downstream scan pays one task + one footer read
per file. Compaction rewrites them into few, large, still-splittable
files — planning cost drops from O(files) to O(bytes / target_size),
and the write amplification is paid once (the same compress-once-scan-many
economics as the reference's codec-level guidance, Readme.md:98-101).

Two compaction strategies, picked by what needs to change:

* ``compact`` / ``compact_partitioned`` — full rewrite through the
  scan+sink (decompress, re-block, recompress). The right tool when the
  codec/level should change or rows need re-clustering; pays one full
  codec pass over the data.
* ``compact_blocks`` (round 9) — RAW BLOCK COPY. 4mc blocks are
  independently compressed and self-delimiting (reference
  4mc-format-spec:11, FourMcOutputStream.java:195-223), so same-codec
  files concatenate at the block level: compressed payloads move
  byte-for-byte into one new container and only header/EOS/footer are
  rewritten. No decompression, no row decode; per-task cost is pure
  sequential I/O — the default for the streaming sink's droppings,
  where the codec is already right and CPU is the scarce resource.

``compact_blocks`` correctness notes:

* Text (line) semantics: a sealed file whose content lacks a trailing
  newline still ends a line at EOF for every 4mc reader. Concatenating
  its blocks in front of another file would glue that final line onto
  the next file's first line, so ``newline_fix=True`` (the text-mode
  default) decodes ONLY each input's final block and appends a 1-byte
  raw ``\\n`` block when the terminator is missing — line content is
  preserved exactly, at the cost of decoding one block per input.
* ElephantBird-protobuf containers need no fix (records self-delimit
  via sync markers; a whole file is always a whole-record stream), so
  ``compact_protobuf`` passes ``newline_fix=False`` — and because
  marker-start ownership is concatenation-invariant, it also carries
  zone maps EXACTLY (``self_delimiting=True``: every block entry kept,
  no seam drops).
* NEVER compact in place under a live ordered-names stream: replacing
  files below the consumer's high-water mark violates the orderednames
  contract (sources/stream.py). Compaction writes a NEW tree; readers
  cut over by path.

Distribution (``compact_blocks``): the driver plans greedy same-codec
bins from footer-only ``scan_file_info`` preads (O(inputs) tiny reads,
same cost class as split planning) and executes one task per output
file via ``sc.parallelize`` — per-partition imperative file I/O is the
one job shape where the RDD API is the honest tool. No shuffle.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from fourmc_spark.format import core
from fourmc_spark.format.reader import iter_block_payloads, scan_file_info
from fourmc_spark.format.writer import FourMcWriter, normalize_codec
from fourmc_spark.sources.datasource import (
    STATS_SUFFIX, _bloom_block_entries, _list_files,
    _load_zone_sidecar, _zone_comparable, bloom_family, land, retire,
    seal_bloom_blocks_header, seal_bloom_spec, seal_sidecar, zone_merge,
)

__all__ = [
    "analyze_stats",
    "compact",
    "compact_blocks",
    "compact_partitioned",
    "compact_protobuf",
    "layout_stats",
    "sidecar_health",
    "plan_compaction",
]


def layout_stats(path: str) -> dict:
    """File-layout health of a dataset directory in any container:
    counts, bytes, and block counts straight from the footers (one ranged
    read per file — the same metadata the split planner touches, no data
    bytes). A container without a footer index counts as one block: the
    planner reads it as one slice."""
    files = _list_files(path)
    sizes = [os.path.getsize(f) for f in files]
    blocks = 0
    for f in files:
        c = core.container_for_path(f)
        if c is not None and not c.indexed:
            blocks += 1
        else:
            blocks += len(scan_file_info(f)[2])
    return {
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes, default=0),
        "max_bytes": max(sizes, default=0),
        "n_blocks": blocks,
    }


def sidecar_health(path: str) -> dict:
    """Operational audit of the pruning-sidecar tiers: which data files
    carry a VALID (size-matching) ``.stats.json``, which are stale or
    bare, and which tiers each valid sidecar seals — the numbers an
    operator needs to decide when to re-ANALYZE (or whether write-time
    ``statsschema``/``bloomcolumns`` is doing its job). Metadata-only:
    one os.stat + one small JSON read per file, no data bytes."""
    files = [p for p in _list_files(path) if not p.endswith(STATS_SUFFIX)]
    out = {
        "n_files": len(files),
        "with_sidecar": 0,
        "stale": 0,        # sidecar exists but is unusable (the planner
        "missing": 0,      # ignores it: size mismatch or unreadable)
        "zone_files": 0,   # file-tier min/max present
        "zone_blocks": 0,  # per-block min/max present
        "bloom_files": 0,  # file-tier blooms present
        "bloom_blocks": 0,
        "zone_columns": set(),
        "bloom_columns": set(),
        # sidecars with no data file; counted only for a plain-directory
        # path (glob/multi/single-file inputs have no well-defined tree
        # to sweep) — None means "not checked"
        "orphan_sidecars": 0 if os.path.isdir(path) else None,
    }
    for f in files:
        if not os.path.exists(f + STATS_SUFFIX):
            out["missing"] += 1
            continue
        # ONE validity contract: exactly what the planner would load
        meta = _load_zone_sidecar(f)
        if meta is None:
            out["stale"] += 1
            continue
        out["with_sidecar"] += 1
        cols = meta.get("columns")
        if isinstance(cols, dict) and cols:
            out["zone_files"] += 1
            out["zone_columns"] |= set(cols)
        if meta.get("blocks"):
            out["zone_blocks"] += 1
        bloom = meta.get("bloom")
        if isinstance(bloom, dict) and bloom:
            out["bloom_files"] += 1
            out["bloom_columns"] |= set(bloom)
        if isinstance(meta.get("bloom_blocks"), dict):
            out["bloom_blocks"] += 1
    if out["orphan_sidecars"] is not None:
        for dirpath, dirs, names in os.walk(path):
            # match _list_files' visibility rule: hidden/underscore
            # directories are outside the dataset
            dirs[:] = [
                x for x in dirs if not x.startswith((".", "_"))
            ]
            for n in names:
                if n.endswith(STATS_SUFFIX) and not os.path.exists(
                    os.path.join(dirpath, n[: -len(STATS_SUFFIX)])
                ):
                    out["orphan_sidecars"] += 1
    out["zone_columns"] = sorted(out["zone_columns"])
    out["bloom_columns"] = sorted(out["bloom_columns"])
    return out


def compact(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    codec: str = "zstd",
    level: str = "high",
    target_file_bytes: int = 512 * 1024 * 1024,
) -> int:
    """Rewrite many small files into ~``target_file_bytes`` sealed files.

    Returns the number of output partitions (= files). Scale shape:

    * the scan plans block-aligned partitions as usual (parallel read);
    * `coalesce` merges read partitions WITHOUT a shuffle — each output
      task streams several input partitions end-to-end;
    * the sink writes one sealed file per output task with atomic commit.

    ``target_file_bytes`` is compared against the INPUT's compressed size;
    recompression at a different level changes output sizes proportionally
    (compact is the natural place to raise the codec level: these files
    are written once and scanned forever after).
    """
    stats = layout_stats(in_path)
    if stats["n_files"] == 0:
        raise ValueError(f"no 4mc/4mz/zst files under {in_path!r}")
    n_out = max(1, math.ceil(stats["total_bytes"] / target_file_bytes))
    df = spark.read.format("fourmc").load(in_path)
    (
        df.select("value")
        .coalesce(n_out)
        .write.format("fourmc")
        .option("codec", codec)
        .option("level", level)
        .mode("overwrite")
        .save(out_path)
    )
    return n_out


def compact_partitioned(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    partition_cols: list[str],
    codec: str = "zstd",
    level: str = "high",
    target_file_bytes: int = 512 * 1024 * 1024,
) -> int:
    """Partition-preserving compaction of a hive-layout dataset.

    Reads with `partitioncolumns` (values rebuilt from paths), repartitions
    by the partition columns so each output task holds whole partitions,
    and writes back with `partitionby` — the `key=value/` layout survives,
    small files per partition collapse. One shuffle, keyed by the partition
    columns; AQE coalesces the output to ~target-size tasks.
    """
    stats = layout_stats(in_path)
    if stats["n_files"] == 0:
        raise ValueError(f"no 4mc/4mz/zst files under {in_path!r}")
    n_out = max(1, math.ceil(stats["total_bytes"] / target_file_bytes))
    df = spark.read.format("fourmc").option(
        "partitioncolumns", ",".join(partition_cols)
    ).load(in_path)
    (
        df.select("value", *partition_cols)
        .repartition(n_out, *partition_cols)
        .write.format("fourmc")
        .option("codec", codec)
        .option("level", level)
        .option("partitionby", ",".join(partition_cols))
        .mode("overwrite")
        .save(out_path)
    )
    return n_out


DEFAULT_TARGET_BYTES = 512 << 20  # compressed bytes per output file


@dataclass(frozen=True)
class CompactionPlan:
    """One output file: ordered input paths sharing one codec, all from
    one directory (*reldir*, relative to the compaction root — '' at the
    root) so hive ``key=value/`` layouts survive compaction."""

    codec: str
    inputs: tuple[str, ...]
    est_bytes: int
    reldir: str = ""


def _split_compactable(in_dir: str) -> tuple[list[str], list[str]]:
    """(footer-indexed files, the rest): raw block copy needs the 4mc
    framing + footer index, which the other containers lack — they are
    skipped (and reported) rather than crashing planning with a
    BadHeaderError."""
    files = sorted(_list_files(in_dir))
    ok = [f for f in files if core.is_indexed_path(f)]
    return ok, [f for f in files if not core.is_indexed_path(f)]


def plan_compaction(
    in_dir: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> list[CompactionPlan]:
    """Greedy name-ordered bins of same-codec files up to *target_bytes*
    compressed, binned per directory: files never cross a directory
    boundary, so partition values encoded only in hive dir names
    (``region=eu/…``) are preserved by construction. Name order keeps
    arrival locality (part-b names sort in batch order), so compacted
    files stay roughly time-clustered — which is what downstream range
    filters prune on. Only footer-indexed containers (.4mc/.4mz) are
    planned; other extensions are left to the caller to report."""
    ok, _skipped = _split_compactable(in_dir)
    return _bin_compactable(in_dir, ok, target_bytes)


def _bin_compactable(
    in_dir: str, ok: list[str], target_bytes: int
) -> list[CompactionPlan]:
    """:func:`plan_compaction` over the footer-indexed files *ok* of
    *in_dir*, already listed by :func:`_split_compactable`."""
    in_real = os.path.realpath(in_dir)
    bins: list[CompactionPlan] = []
    cur: dict[tuple[str, str], list] = {}  # (reldir, codec) -> [paths, bytes]
    for path in ok:
        reldir = os.path.relpath(os.path.dirname(os.path.realpath(path)),
                                 in_real)
        reldir = "" if reldir == "." else reldir
        codec, size, _offs = scan_file_info(path)
        key = (reldir, codec)
        got = cur.get(key)
        if got is not None and got[1] + size > target_bytes and got[0]:
            bins.append(CompactionPlan(codec, tuple(got[0]), got[1], reldir))
            got = None
        if got is None:
            got = cur[key] = [[], 0]
        got[0].append(path)
        got[1] += size
    for (reldir, codec), (paths, nbytes) in cur.items():
        if paths:
            bins.append(CompactionPlan(codec, tuple(paths), nbytes, reldir))
    return bins


def _append_raw_blocks(
    out_f, offsets: list[int], src: str
) -> list[tuple[int, int]]:
    """Copy *src*'s framed blocks verbatim; returns the (input offset,
    output offset) pair of every copied block, in file order."""
    pairs: list[tuple[int, int]] = []
    with open(src, "rb") as f:
        core.decode_header(f.read(core.HEADER_SIZE))
        while True:
            in_off = f.tell()
            try:
                block = core.read_block(f)
            except core.BadBlockError as e:
                raise core.BadBlockError(f"{src}: {e}") from e
            if block is None:
                return pairs  # EOS — footer follows; nothing left to copy
            header, *_, payload = block
            out_off = out_f.tell()
            offsets.append(out_off)
            pairs.append((in_off, out_off))
            out_f.write(header)
            out_f.write(payload)


def _last_block_ends_with_newline(src: str) -> bool:
    codec, _size, offs = scan_file_info(src)
    if not offs:
        return True  # empty file: nothing to terminate
    with open(src, "rb") as f:
        for _off, data in iter_block_payloads(f, codec, offs[-1]):
            last = data  # single iteration: offs[-1] is the final block
        return last.endswith(b"\n")


def compact_group(
    plan: CompactionPlan,
    out_path: str,
    newline_fix: bool = True,
    carry_stats: bool = True,
    self_delimiting: bool = False,
) -> dict:
    """Compact one plan into *out_path* (executor-side; pure file I/O).

    ``carry_stats=True`` forwards analyze_stats zone maps WITHOUT
    re-analyzing: raw-copied blocks keep their per-block min/max (the
    entries remap from input to output offsets), and the file tier
    merges the inputs' file stats. Two conservativeness rules for the
    TEXT record model:

    * carried only when EVERY input has a valid (size-matching)
      sidecar — otherwise the output gets none;
    * each input's LAST copied block loses its entry. Concatenation
      moves ownership of the NEXT input's first line into it (the line
      is preceded by the prior input's final byte), so its input-time
      stats would be too NARROW — and narrow stats can wrongly prune.
      Too-wide stats (the next input's block 0 no longer owns its
      first line) are safe and kept.

    ``self_delimiting=True`` (the EB-protobuf model, compact_protobuf):
    records self-delimit via sync markers and ownership is
    marker-start-block, which concatenation cannot move — no record
    ever crosses into another input's block. Both text rules are
    needless there, so EVERY block entry carries and the newline-glue
    check is skipped (it would kill the carry on ~every binary file).
    """
    magic = core.magic_for_codec(plan.codec)
    offsets: list[int] = []
    blocks = 0
    fixes = 0
    metas = (
        {src: _load_zone_sidecar(src) for src in plan.inputs}
        if carry_stats else {}
    )
    carry = bool(metas) and all(m is not None for m in metas.values())
    if carry and not newline_fix and not self_delimiting:
        # with the newline fix OFF, an unterminated non-final input
        # GLUES its last line onto the next input's first — the glued
        # line is owned by the block holding the last terminator, whose
        # carried stats would be too narrow (and narrow stats can
        # wrongly prune). Conservative: carry nothing for such groups.
        if any(
            not _last_block_ends_with_newline(s) for s in plan.inputs[:-1]
        ):
            carry = False
    block_entries: list[dict] = []
    bloom_block_entries: list[dict] = []
    tmp = f"{out_path}.inprogress"
    retire([tmp])  # a crashed earlier run may have sealed a sidecar
    with open(tmp, "wb") as out_f:
        out_f.write(core.encode_header(magic))
        for src in plan.inputs:
            pairs = _append_raw_blocks(out_f, offsets, src)
            blocks += len(pairs)
            if carry and pairs:
                by_off = {
                    b.get("o"): b.get("c")
                    for b in metas[src].get("blocks") or ()
                }
                bb = metas[src].get("bloom_blocks")
                bloom_by_off = {
                    b.get("o"): b.get("c")
                    for b in (bb or {}).get("blocks") or ()
                } if isinstance(bb, dict) else {}
                # text: drop the seam block (ownership can widen into
                # it); self-delimiting records: every entry stays exact
                kept = pairs if self_delimiting else pairs[:-1]
                for in_off, out_off in kept:
                    c = by_off.get(in_off)
                    if c is not None:
                        block_entries.append({"o": out_off, "c": c})
                    c = bloom_by_off.get(in_off)
                    if c is not None:
                        bloom_block_entries.append({"o": out_off, "c": c})
            if newline_fix and not _last_block_ends_with_newline(src):
                offsets.append(out_f.tell())
                out_f.write(core.encode_block(1, b"\n", compressed=False))
                blocks += 1
                fixes += 1
        out_f.write(core.encode_eos())
        out_f.write(core.encode_footer(magic, offsets))
    if carry:
        _write_carried_sidecar(
            tmp,
            [metas[s] for s in plan.inputs],
            block_entries,
            bloom_block_entries,
        )
    # a rerun into the same out_dir lands on the same compact-NNNNNN
    # name: land() evicts the previous run's sidecar before the data
    land(tmp, out_path)
    return {
        "out": out_path,
        "inputs": len(plan.inputs),
        "blocks": blocks,
        "newline_fixes": fixes,
        "stats_carried": carry,
        "bytes": os.path.getsize(out_path),
    }


def _or_bit_positions(bm, positions) -> None:
    """OR bit ``positions`` into little-bit-order bitmap ``bm`` in place.

    The sparse-wire decoder of :func:`analyze_bloom`'s partials: the
    encoder lists a partial's set bits with ``unpackbits(...,
    bitorder="little")``, whose layout (byte ``p >> 3``, bit ``p & 7``)
    this inverts — the layout :func:`bloom_set_bits` writes."""
    import numpy as np

    np.bitwise_or.at(
        bm, positions >> 3, np.left_shift(1, positions & 7).astype(np.uint8)
    )


def _write_carried_sidecar(
    out_path: str,
    metas: list[dict],
    block_entries: list[dict],
    bloom_block_entries: list[dict] | None = None,
) -> None:
    """Merge the inputs' file-tier stats and attach the remapped block
    entries. A column enters the merged file tier only when EVERY input
    records it (a gap would make the merged range too narrow). Block
    BLOOM entries carry only when every input's ``bloom_blocks`` header
    (algo/seed/bits/k/fam) is identical — a geometry or family mismatch
    would probe one input's bitmaps under another's derivation."""
    common = set(metas[0].get("columns", {}))
    for m in metas[1:]:
        common &= set(m.get("columns", {}))
    file_cols = {}
    for c in sorted(common):
        spans = [
            (s.get("min"), s.get("max"), s.get("nulls"))
            for s in (m["columns"][c] for m in metas)
        ]
        vals = [v for span in spans for v in span[:2] if v is not None]
        if any(not _zone_comparable(vals[0], v) for v in vals[1:]):
            # inputs analyzed under different DDLs for this column:
            # min()/max() across mixed types would raise, and even a
            # successful mix could understate the range — skip it
            # (conservative: the column never file-prunes)
            continue
        file_cols[c] = zone_merge(spans)
    fields = {
        "rows": sum(int(m.get("rows") or 0) for m in metas),
        "columns": file_cols,
        "blocks": block_entries,
        "carried": True,
    }
    blooms = _merge_carried_blooms(metas)
    if blooms:
        fields["bloom"] = blooms
    heads = [m.get("bloom_blocks") for m in metas]
    if bloom_block_entries and _one_contract(heads):
        fields["bloom_blocks"] = dict(
            {f: heads[0][f] for f in _CONTRACT}, blocks=bloom_block_entries
        )
    seal_sidecar(out_path, fields)


#: the fields two bloom specs (or ``bloom_blocks`` headers) must share
#: for one's bitmaps to be read under the other's derivation
_CONTRACT = ("algo", "seed", "bits", "k", "fam")


def _one_contract(specs: list) -> bool:
    """True iff every spec is a dict stating every contract field, each
    equal to the first spec's."""
    head = specs[0]
    return isinstance(head, dict) and all(
        isinstance(s, dict)
        and all(f in s and s[f] == head[f] for f in _CONTRACT)
        for s in specs
    )


def _merge_carried_blooms(metas: list[dict]) -> dict:
    """Bloom carry across compaction: the output file's value set is the
    UNION of its inputs', and a bloom of a union is the bitwise OR of
    the blooms — exact, no re-hash. A column carries only when EVERY
    input has a bloom for it under the IDENTICAL contract (algo, seed,
    bits, k, fam, bitmap length); any gap or mismatch drops that column
    (conservative: it simply never bloom-prunes). Seam-block text
    ownership shifts are irrelevant here — the OR covers every input
    row, and extra coverage only adds false positives, never false
    absence."""
    import base64 as _b64

    all_blooms = [m.get("bloom") for m in metas]
    if not all(isinstance(b, dict) for b in all_blooms):
        common = set()
    else:
        common = set(all_blooms[0])
        for b in all_blooms[1:]:
            common &= set(b)
    merged = {}
    for c in sorted(common):
        specs = [b[c] for b in all_blooms]
        if not _one_contract(specs):
            continue
        try:
            bms = [_b64.b64decode(s["b64"], validate=True) for s in specs]
        except (KeyError, TypeError, ValueError):
            continue
        if any(len(bm) != len(bms[0]) for bm in bms):
            continue
        acc = 0  # big-int OR: C-speed regardless of bitmap size
        for bm in bms:
            acc |= int.from_bytes(bm, "little")
        merged[c] = dict(
            specs[0],
            b64=_b64.b64encode(
                acc.to_bytes(len(bms[0]), "little")
            ).decode("ascii"),
        )
    return merged


def _recompress_group(
    plan: CompactionPlan,
    out_path: str,
    codec: str,
    level,
    workers: int,
    newline_fix: bool = True,
) -> dict:
    """Decompress-and-reseal fallback for codec conversion. Re-blocks at
    the 4 MiB bound, so many tiny input blocks also coalesce. Applies
    the same text terminator fix as the raw-copy path."""
    tmp = f"{out_path}.inprogress"
    retire([tmp])  # a crashed raw copy may have sealed a sidecar there
    fixes = 0
    with open(tmp, "wb") as out_f:
        w = FourMcWriter(out_f, codec=codec, level=level, workers=workers)
        for src in plan.inputs:
            in_codec, _size, _offs = scan_file_info(src)
            last = b"\n"
            with open(src, "rb") as f:
                for _off, data in iter_block_payloads(f, in_codec):
                    w.write(data)
                    if data:
                        last = data
            if newline_fix and not last.endswith(b"\n"):
                w.write(b"\n")
                fixes += 1
        w.close()
    land(tmp, out_path)  # evicts the old sidecar: zone maps are stale
    return {
        "out": out_path,
        "inputs": len(plan.inputs),
        "blocks": None,
        "newline_fixes": fixes,
        "bytes": os.path.getsize(out_path),
    }


def compact_blocks(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    newline_fix: bool = True,
    codec: str | None = None,
    level="medium",
    carry_stats: bool = True,
    self_delimiting: bool = False,
) -> dict:
    """Compact a tree of sealed 4mc/4mz files into *out_dir* by raw
    block copy (no recompression). Hive subdirectories are mirrored
    (bins never cross a directory, see ``plan_compaction``), so
    ``key=value/`` partition values survive. Passing ``codec=`` ALWAYS
    forces the decompress-and-reseal conversion — including when it
    equals the inputs' codec, which is how you re-level or coalesce
    many tiny blocks into full 4 MiB ones. Non-block containers under
    the tree (.zst, Hadoop ``.lz4_*``/``.zstd_*``) carry no footer
    index and are skipped, reported under ``"skipped"`` (convert them
    with ``compact``/the CLI). One Spark task per output file; the
    driver only plans (footer preads) and never touches block data.
    See the module docstring for the text/protobuf semantics."""
    in_real = os.path.realpath(in_dir)
    if os.path.realpath(out_dir) == in_real:
        raise ValueError(
            "compact_blocks writes a NEW tree: out_dir must differ from "
            "in_dir (in-place compaction under a live stream would "
            "violate the orderednames contract)"
        )
    target_codec = normalize_codec(codec) if codec else None
    ok, skipped = _split_compactable(in_dir)  # the tree's one listing
    plans = _bin_compactable(in_dir, ok, target_bytes)
    os.makedirs(out_dir, exist_ok=True)
    jobs = []
    for i, p in enumerate(plans):
        out_codec = target_codec or p.codec
        ext = core.extension_for_codec(out_codec)
        d = os.path.join(out_dir, p.reldir) if p.reldir else out_dir
        os.makedirs(d, exist_ok=True)
        out_path = os.path.join(d, f"compact-{i:06d}{ext}")
        jobs.append((p, out_path, out_codec))
    sc = spark.sparkContext
    reseal = target_codec is not None

    def _run(job):
        p, out_path, out_codec = job
        if not reseal and out_codec == p.codec:
            return compact_group(
                p, out_path, newline_fix=newline_fix,
                carry_stats=carry_stats, self_delimiting=self_delimiting,
            )
        return _recompress_group(
            p, out_path, out_codec, level, workers=1,
            newline_fix=newline_fix,
        )

    results = (
        sc.parallelize(jobs, max(1, len(jobs))).map(_run).collect()
        if jobs else []
    )
    return {
        "inputs": sum(r["inputs"] for r in results),
        "outputs": len(results),
        "bytes": sum(r["bytes"] for r in results),
        "newline_fixes": sum(r["newline_fixes"] for r in results),
        "stats_carried": sum(1 for r in results if r.get("stats_carried")),
        "skipped": skipped,
        "files": results,
    }


def compact_protobuf(spark: SparkSession, in_dir: str, out_dir: str, **kw) -> dict:
    """Protobuf twin of ``compact_blocks``: EB records self-delimit, so
    no newline fix, and zone maps carry EXACTLY (every block entry —
    sync-marker ownership is concatenation-invariant, no seam drops);
    otherwise identical raw block copy."""
    kw.setdefault("newline_fix", False)
    kw.setdefault("self_delimiting", True)
    return compact_blocks(spark, in_dir, out_dir, **kw)


def analyze_stats_proto(
    spark: SparkSession,
    path: str,
    fields=None,
    columns: list[str] | None = None,
    blocks: bool = True,
    split_bytes: int = 256 << 20,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 1 << 20,
    bloom_k: int = 7,
    bloom_block_bits: int | None = None,
    bloom_block_k: int | None = None,
) -> dict:
    """ANALYZE twin of :func:`analyze_stats` for ElephantBird-protobuf
    4mc/4mz trees (the ``fourmcproto`` source): the two-tier zone map —
    per-FILE and per-BLOCK row count + min/max/null-count per scalar
    field — in the same ``<file>.stats.json`` sidecar the typed scans
    prune against.

    ``bloom_columns`` additionally seals a per-file bloom bitmap per
    named int/string field in the same read (no second pass): each
    non-null value hashes through the shared contract (xxh64 of its
    canonical text, seed 42) into ``bloom_bits``/``bloom_k`` positions;
    the ``fourmcproto`` reader probes EqualTo/In point predicates
    against them at planning time, pruning point lookups on unclustered
    fields the zone tier cannot touch. ``bloom_block_bits`` additionally
    seals the per-BLOCK bloom tier, so point probes inside kept files
    scan only the blocks that may hold the value. Without
    ``bloom_columns``, the bloom tiers of the file's valid sidecar are
    kept, as :func:`analyze_stats` keeps them.

    The records are read by the ``fourmcproto`` scan's own reader
    (``FourMcProtoReader.slice_reader``), and the block key is the
    compressed offset of the block in which each EB record's sync marker
    starts — the ownership rule its split reader enforces, so dropping a
    block removes precisely the records its stats speak for. The zone
    map comes from the ``zone_spans`` kernel (so a NaN makes max=NaN:
    Spark orders NaN above every double, and such spans never prune a
    lower bound). bool/bytes/repeated fields are skipped (no shared
    ordering with the JSON sidecar primitives).

    One pass, :func:`_analyze_pass`, planned as a ``fourmcproto`` scan
    with ``split_bytes`` as its ``maxpartitionbytes``: one task per
    packed partition (the ``tasks`` key). Only 4mc/4mz files are
    analyzed; other containers in the tree are skipped."""
    from dataclasses import asdict

    from fourmc_spark.format.protobuf import (
        USER_SCHEMA, bloom_eligible_fields, spark_struct, zone_eligible_fields,
    )
    from fourmc_spark.session import default_parallelism
    from fourmc_spark.sources.datasource import validate_bloom_geometry
    from fourmc_spark.sources.protobuf import FourMcProtoReader

    schema = tuple(fields) if fields else USER_SCHEMA
    eligible = zone_eligible_fields(schema)
    cols = [c for c in (columns or eligible) if c in eligible]
    if not cols:
        raise ValueError(
            "analyze_stats_proto: no scalar orderable fields to analyze"
        )
    unknown = [c for c in (columns or ()) if c not in eligible]
    if unknown:
        raise ValueError(
            f"analyze_stats_proto: columns {unknown!r} are not scalar "
            f"orderable fields of the schema (eligible: {eligible})"
        )
    bl_cols = list(bloom_columns or [])
    bk = bloom_block_k if bloom_block_k is not None else bloom_k
    if bloom_block_bits is not None and not bl_cols:
        raise ValueError(
            "analyze_stats_proto: bloom_block_bits requires bloom_columns"
        )
    if bl_cols:
        validate_bloom_geometry(bloom_bits, bloom_k, "analyze_stats_proto")
        if bloom_block_bits is not None:
            validate_bloom_geometry(
                bloom_block_bits, bk, "analyze_stats_proto (block tier)",
                max_bits=1 << 24,
            )
        bl_eligible = bloom_eligible_fields(schema)
        for c in bl_cols:
            if c not in bl_eligible:
                raise ValueError(
                    f"analyze_stats_proto: field {c!r} is not bloom-eligible"
                    " (scalar int32/int64/string only)"
                )
    st = spark_struct(schema)
    reader = FourMcProtoReader(
        {"path": path, "maxpartitionbytes": split_bytes,
         "fields": json.dumps([asdict(f) for f in schema])},
        st, default_parallelism(spark),
    )
    parts = reader.plan(
        [p for p in _list_files(path) if core.is_indexed_path(p)]
    )
    summaries = _analyze_pass(
        spark, reader, parts, st, zones=cols, blocks=blocks, blooms=bl_cols,
        bits=bloom_bits, k=bloom_k, block_bits=bloom_block_bits, bk=bk,
    )
    return {
        "files": len(summaries),
        "rows": sum(r["rows"] for r in summaries),
        "columns": cols,
        "block_stats": blocks,
        "bloom_columns": bl_cols,
        "tasks": sum(1 for p in parts if p.path),
    }


def _typed_reader(spark: SparkSession, path: str, schema_ddl: str,
                  record_format: str):
    """The ``jsonschema`` (NDJSON) or ``csvschema`` (CSV) scan reader the
    text ANALYZE passes plan and read with, and its planned partitions."""
    from fourmc_spark.session import default_parallelism
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    opt = {"json": "jsonschema", "csv": "csvschema"}.get(record_format)
    if opt is None:
        raise ValueError(
            f"record_format must be 'json' or 'csv', got {record_format!r}"
        )
    reader = FourMcDataSourceReader(
        {"path": path, opt: schema_ddl}, _parse_flat_ddl(schema_ddl),
        default_parallelism(spark),
    )
    return reader, reader.partitions()


def analyze_stats(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    columns: list[str] | None = None,
    blocks: bool = True,
    record_format: str = "json",
) -> dict:
    """ANALYZE for NDJSON (or, with ``record_format='csv'``, CSV-line)
    trees: one distributed read computes a TWO-TIER zone map — per-FILE
    and (``blocks=True``) per-BLOCK row count + min/max/null-count per
    column — and writes it to a ``<file>.stats.json`` sidecar next to
    each data file.

    The typed scan (``jsonschema``/``csvschema`` option,
    sources/datasource.py) then prunes whole files whose [min, max]
    provably excludes a pushed predicate, and within kept files skips
    the non-matching BLOCKS — the Iceberg-manifest + parquet-row-group
    economics for data whose natural clustering (time-ordered ingest,
    range-compacted output) makes ranges narrow. The block key is the
    compressed block offset the scan's ``offset`` column exposes, so
    block stats group lines exactly by the ownership rule the split
    reader enforces. A container without a footer index (``.zst``,
    Hadoop block streams) is read whole and gets the file tier only.

    The records are read by that typed scan's own reader
    (``FourMcDataSourceReader.slice_reader``), so the sidecar holds
    exactly the values the pruning scan parses: zone-less timestamp
    text is read as UTC whatever the session timezone (as the scan and
    the sink read it), a line the scan cannot parse fails the ANALYZE
    with the scan's ``ValueError`` and seals nothing, and the DDL may
    declare fields named ``offset`` or ``_file``.

    Safety: sidecars record the data file's byte size; the reader
    ignores a sidecar whose size mismatches (stale after rewrite), and
    Spark re-applies every filter post-scan, so pruning can only remove
    provably-empty work. The zone map comes from the ``zone_spans``
    kernel the sink uses. A re-ANALYZE keeps the bloom tiers of the
    file's valid sidecar.

    100 TB shape: one pass shared with :func:`analyze_bloom`
    (:func:`_analyze_pass`): the driver plans as the scan does, each
    task folds its slices into per-(file, block) zone spans and ships
    them as JSON text over ONE exchange; sidecars are WRITTEN
    EXECUTOR-SIDE (one sealer per file), so the driver materializes
    only one summary row per file — the O(files) it already pays to
    plan splits.
    """
    reader, parts = _typed_reader(spark, path, schema_ddl, record_format)
    declared = [f.name for f in reader.json_schema.fields]
    cols = list(columns) if columns else declared
    unknown = [c for c in cols if c not in declared]
    if unknown:
        raise ValueError(f"analyze_stats: columns {unknown!r} not in schema")
    summaries = _analyze_pass(
        spark, reader, parts, reader.json_schema, zones=cols, blocks=blocks,
    )
    return {
        "files": len(summaries),
        "rows": sum(r["rows"] for r in summaries),
        "columns": cols,
        "block_stats": blocks,
    }


def _analyze_pass(
    spark: SparkSession,
    reader,
    parts: list,
    schema,
    zones=(),
    blocks: bool = False,
    blooms=(),
    bits: int = 0,
    k: int = 0,
    block_bits: int | None = None,
    bk: int = 0,
) -> list:
    """The one ANALYZE pass behind :func:`analyze_stats` (*zones*, the
    block tier with *blocks*), :func:`analyze_bloom` (*blooms*) and
    :func:`analyze_stats_proto` (both): *parts*, planned by the record
    model's scan *reader* (whose declared *schema* gives each column's
    type), run one task each; each task reads its slices through
    ``reader.slice_reader`` — the iterator the scan's own ``read()``
    uses, so no record crosses into the JVM — and folds them into
    per-(file, block) partials; one exchange and one sealer per file
    (``groupBy("_file").applyInPandas``) follow. Returns one row per
    sealed file: ``file``, ``rows`` (0 unless *zones*), ``set_bits``
    (file-tier bloom bits set).

    The partial folds each slice by block (block -1 is the file tier,
    and the only one a container without a footer index gets): zone
    columns go through ``zone_spans`` (the sink's kernel), then cross
    the exchange as one JSON text per (file, block) — sidecar-form
    values, so no typed min/max passes through pandas. Each run of
    bloom values is hashed once for both tiers (``bloom_hashes`` +
    ``bloom_set_bits``) into per-(file, column, block) bitmaps that ship
    in whichever encoding is smaller: the DENSE ``n_bits``/8-byte
    bitmap, or the SPARSE sorted uint32 list of its set positions.
    Every (file, block) a task sees gets its bitmaps even when its bloom
    columns are all NULL there, so that block still seals (all-zero:
    equality never matches NULL, so every probe provably misses).

    The sealer keeps the tiers the call does not build from the file's
    valid sidecar: a zone build keeps ``bloom``/``bloom_blocks`` and
    rewrites the rest; a bloom-only build amends a copy of the whole
    sidecar (else a bare envelope)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from fourmc_spark.sources.datasource import (
        bloom_hashes, bloom_set_bits, zone_spans,
    )

    parts = [p for p in parts if p.path]
    if not parts:
        return []
    types = {f.name: f.dataType for f in schema.fields}
    fams = {c: bloom_family(types[c]) for c in blooms}
    names = list(dict.fromkeys([*zones, *blooms]))
    zone_at = [names.index(c) for c in zones]
    bloom_at = [names.index(c) for c in blooms]
    want_blocks = blocks or block_bits is not None

    def _partial(batches: "Iterator[pa.RecordBatch]"):
        # per-byte popcount table (built once per task, 256 entries):
        # lets the flush below count set bits without unpacking bitmaps
        _POPCNT8 = (
            np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1)
            .sum(axis=1)
            .astype(np.uint16)
        )
        acc: dict[tuple, "np.ndarray"] = {}  # (file, col, block) -> bitmap
        zacc: dict[tuple, list] = {}  # (file, block) -> [rows, {col: zone}]
        read_slice = reader.slice_reader(names)

        def _set(key: tuple, h: "np.ndarray", n_k: int, n_bits: int) -> None:
            bm = acc.get(key)
            if bm is None:
                bm = acc[key] = np.zeros(n_bits // 8, dtype=np.uint8)
            bloom_set_bits(bm, h, n_k, n_bits)

        def _fold(fp: str, off: int, cols: list) -> None:
            # one run of one block (or of the file tier, off -1): its
            # values go through the kernels once, for every tier
            if zones:
                z = zacc.setdefault(
                    (fp, off), [0, {c: zone_merge(()) for c in zones}]
                )
                z[0] += len(cols[0])
                for j, c in zip(zone_at, zones):
                    z[1][c] = zone_merge([
                        tuple(z[1][c].values()),
                        *zone_spans(cols[j], types[c]),
                    ])
            for j, c in zip(bloom_at, blooms):
                h = bloom_hashes(cols[j])
                _set((fp, c, -1), h, k, bits)
                if off != -1 and block_bits is not None:
                    _set((fp, c, off), h, bk, block_bits)

        for rb in batches:
            for i in rb.column(0).to_pylist():
                for sl in parts[i].slices():
                    # only a footer-indexed container has blocks; the
                    # others' offsets are line positions in one stream
                    by_block = want_blocks and core.is_indexed_path(sl.path)
                    for offs, cols in read_slice(sl):
                        if not len(offs):
                            continue
                        if not by_block:
                            _fold(sl.path, -1, cols)
                            continue
                        bounds = [0, *(np.flatnonzero(offs[1:] != offs[:-1])
                                       + 1).tolist(), len(offs)]
                        for s0, s1 in zip(bounds[:-1], bounds[1:]):
                            _fold(sl.path, int(offs[s0]),
                                  [a.slice(s0, s1 - s0) for a in cols])
        # one row per (file, block) zone map and per (file, column,
        # block) bitmap, the other kind's fields null
        out = [
            (fp, off, n,
             json.dumps({c: list(z.values()) for c, z in zs.items()}),
             None, None, None)
            for (fp, off), (n, zs) in zacc.items()
        ]
        for (fp, cname, blk), bm in acc.items():
            # popcount FIRST (256-entry table) to pick the encoding:
            # unpackbits materializes 8x the bitmap (a transient ~128 MB
            # at the max 2^27-bit geometry) and is only needed when the
            # sparse branch actually wins
            if 4 * int(_POPCNT8[bm].sum()) < len(bm):
                set_pos = np.flatnonzero(
                    np.unpackbits(bm, bitorder="little")
                )
                out.append((fp, blk, 0, None, cname,
                            set_pos.astype("<u4").tobytes(), False))
            else:
                out.append((fp, blk, 0, None, cname, bm.tobytes(), True))
        cols_out = list(zip(*out)) or [()] * 7
        yield pa.RecordBatch.from_arrays(
            [pa.array(v, t) for v, t in zip(cols_out, (
                pa.string(), pa.int64(), pa.int64(), pa.string(),
                pa.string(), pa.binary(), pa.bool_(),
            ))],
            names=["_file", "block", "rows", "zone", "col_name", "bm",
                   "dense"],
        )

    def _seal(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        fpath = key[0]
        # a copy: the loader's dict is its cache entry
        old = dict(_load_zone_sidecar(fpath) or {})
        rows = set_bits = 0
        fields = old
        if zones:
            zr = pdf[pdf["zone"].notna()]
            by_off: dict[int, list] = {}  # block offset -> its zone rows
            for off, zj in zip(zr["block"], zr["zone"]):
                by_off.setdefault(int(off), []).append(json.loads(zj))
            zmap = {  # block offset -> {col: [min, max, nulls]}
                o: {c: list(zone_merge(p[c] for p in ps).values())
                    for c in zones}
                for o, ps in by_off.items()
            }
            rows = int(zr["rows"].sum())
            fields = {"rows": rows, "columns": {
                c: zone_merge(z[c] for z in zmap.values()) for c in zones
            }}
            # bloom tiers sealed by analyze_bloom for the SAME bytes stay
            # valid — re-ANALYZE of min/max must not drop either of them
            for tier in ("bloom", "bloom_blocks"):
                if isinstance(old.get(tier), dict):
                    fields[tier] = old[tier]
            if blocks and -1 not in zmap:
                fields["blocks"] = [
                    {"o": o, "c": zmap[o]} for o in sorted(zmap)
                ]
        if blooms:
            br = pdf[pdf["zone"].isna()]

            def _merge(sub: "pd.DataFrame", n_bits: int) -> "np.ndarray":
                bm = np.zeros(n_bits // 8, dtype=np.uint8)
                for part, is_dense in zip(sub["bm"], sub["dense"]):
                    if is_dense:
                        bm |= np.frombuffer(part, dtype=np.uint8)
                    else:
                        p = np.frombuffer(part, dtype="<u4").astype(np.int64)
                        _or_bit_positions(bm, p)
                return bm

            prev = fields.get("bloom")
            specs = dict(prev) if isinstance(prev, dict) else {}
            ftier = br[br["block"] == -1]
            for c in blooms:
                bm = _merge(ftier[ftier["col_name"] == c], bits)
                specs[c] = seal_bloom_spec(bm.tobytes(), bits, k, fams[c])
                set_bits += int(np.unpackbits(bm).sum())
            fields["bloom"] = specs
            # ONE grouped pass over the block-tier rows (a per-offset
            # boolean filter would rescan the frame O(blocks) times —
            # quadratic exactly when blocks are many, the tier's target
            # shape); none without block_bits or a footer index
            grouped: dict[int, dict] = {}
            for (off, cname), sub in br[br["block"] != -1].groupby(
                ["block", "col_name"], sort=False
            ):
                grouped.setdefault(int(off), {})[cname] = _merge(
                    sub, block_bits
                )
            if grouped:
                fields["bloom_blocks"] = seal_bloom_blocks_header(
                    block_bits, bk, fams,
                    _bloom_block_entries(grouped, blooms, block_bits),
                )
        seal_sidecar(fpath, fields)
        return pd.DataFrame(
            {"file": [fpath], "rows": [rows], "set_bits": [set_bits]}
        )

    return (
        spark.range(len(parts), numPartitions=len(parts))
        .mapInArrow(
            _partial,
            "_file string, block long, rows long, zone string, "
            "col_name string, bm binary, dense boolean",
        )
        .groupBy("_file")
        .applyInPandas(_seal, "file string, rows long, set_bits long")
        .collect()
    )


_BLOOM_ELIGIBLE = "long/int/short/string"


def analyze_bloom(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    columns: list[str],
    bits: int = 1 << 20,
    k: int = 7,
    block_bits: int | None = None,
    block_k: int | None = None,
    record_format: str = "json",
) -> dict:
    """ANALYZE ... FOR BLOOM: per-FILE bloom filters for point-predicate
    pruning on columns zone maps cannot help with — plus an optional
    per-BLOCK tier (``block_bits``) so a point probe inside a KEPT file
    scans only the blocks that may hold the value (4mc/4mz files only:
    a ``.zst`` or Hadoop container has no blocks and gets the file
    tier). ``record_format='csv'`` analyzes CSV-line trees (the
    ``csvschema`` typed scan) instead of NDJSON.

    Zone maps (analyze_stats) prune by [min, max] — decisive on the
    natural clustering key (time, monotonic ids) and useless on
    everything else: a point lookup ``doc_id = X`` against a
    time-ordered log overlaps every file's id range, so min/max keeps
    them all. This pass amends each file's ``.stats.json`` sidecar with
    a bloom bitmap per requested column; the typed scan's planner then
    drops every file whose bloom proves all probed values absent
    (EqualTo / In pushdown, sources/datasource.py). False positives
    only cost a scan Spark's re-applied filters empty out; false
    negatives are impossible for the values the file actually holds.

    The values are those the typed scan's own reader parses;
    ``bloom_hashes`` casts each run's distinct values to their canonical
    text and hashes them in one XXH64 call, and ``bloom_set_bits`` sets
    their k positions — the kernel and bit setter the sink and
    :func:`analyze_stats_proto` build with. The planner hashes each
    probed value with the scalar ``format/native.xxh64`` — O(k) bit
    tests per (file, value), no data I/O. Pins: Spark's ``xxhash64`` of
    the cast equals ``xxh64``
    (``tests/test_bloom.py::test_xxh64_matches_spark_expression``), the
    array kernel equals libxxhash
    (``tests/test_properties.py::test_xxh64_array_matches_libxxhash``),
    sink and ANALYZE seal the same bitmaps
    (``::test_sink_blooms_equal_analyze_bloom_bitmaps``), and every
    bitmap equals a one-value-at-a-time build
    (``::test_analyze_bloom_matches_scalar_build``).

    Eligibility is long/int/short/string columns: their canonical text
    (Arrow's cast to string, equal to CAST AS STRING) is the text
    Python's ``str()`` produces, so build and probe agree exactly. Floats/timestamps are refused (equality
    semantics on those are hazard-prone; ranges already have zone
    maps).

    100 TB shape: one distributed read and ONE exchange, the same pass
    :func:`analyze_stats` runs (:func:`_analyze_pass`). No record
    crosses into the JVM: each task reads its planned slices through
    the scan's reader, folds them into per-(file, column, block) bitmaps
    locally (bitmaps are OR-mergeable) and ships each in whichever
    encoding is smaller — dense bitmap or sparse sorted set-position
    list — so the shuffle carries, per task, columns × (1 +
    blocks-in-task) rows of min(``bits``/8, 4 × set-positions) bytes,
    regardless of row count. Sidecars are amended
    EXECUTOR-SIDE (applyInPandas per file, OR-merging the partials);
    the driver sees one summary row per file. Sizing: false-positive
    rate ≈ (1 - e^(-k·n/bits))^k
    for n distinct values per span; the 2^20-bit file default (128 KiB
    bitmap) holds ~100k NDV per file at ~1%; size ``block_bits`` for
    the ~4 MiB-block NDV (the 2^13 suggestion = 1 KiB per (block, col)
    in the sidecar). The block tier is the within-file complement: a
    kept 256 MB file (≈64 blocks) scans only the blocks whose bitmap
    may hold the probe — parquet-page economics for point lookups on
    ANY layout, clustered or not. Compaction OR-merges carried file
    blooms (union of inputs = bitwise OR, exact) and carries block
    blooms by offset remap with the same seam rule as zone maps, so
    steady-state needs no re-ANALYZE.
    """
    from fourmc_spark.sources.datasource import validate_bloom_geometry

    validate_bloom_geometry(bits, k, "analyze_bloom")
    bk = block_k if block_k is not None else k
    if block_bits is not None:
        validate_bloom_geometry(
            block_bits, bk, "analyze_bloom (block tier)", max_bits=1 << 24
        )
    reader, parts = _typed_reader(spark, path, schema_ddl, record_format)
    types = {f.name: f.dataType for f in reader.json_schema.fields}
    cols = list(columns)
    if not cols:
        raise ValueError("analyze_bloom: at least one column required")
    for c in cols:
        if c not in types:
            raise ValueError(f"analyze_bloom: column {c!r} not in schema")
        if bloom_family(types[c]) is None:
            raise ValueError(
                f"analyze_bloom: column {c!r} has type {types[c].simpleString()};"
                f" only {_BLOOM_ELIGIBLE} columns are bloom-eligible"
                " (their CAST AS STRING matches the probe's str())"
            )

    summaries = _analyze_pass(
        spark, reader, parts, reader.json_schema, blooms=cols, bits=bits,
        k=k, block_bits=block_bits, bk=bk,
    )
    return {
        "files": len(summaries),
        "columns": cols,
        "bits": bits,
        "k": k,
        "block_bits": block_bits,
        "set_bits": sum(r["set_bits"] for r in summaries),
    }
