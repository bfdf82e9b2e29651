"""4mc/4mz file reader: footer index, block decode, split-aware line iteration.

Re-implements the read path of the reference
(`FourMcInputStream.java:163-332`, `FourMcLineRecordReader.java:58-163`):

* the footer index is read with one ranged read from the file tail
  (4 KiB read-ahead, re-read when the footer is larger) — this is the only
  planning-time I/O, so a 100 TB directory costs one tail read per file;
* blocks are self-delimiting (12-byte header carries both sizes), so an
  executor can stream a split *without* the index — the index is only used
  by the planner to align splits to block boundaries;
* every block payload is verified with xxh32 before decode (fail fast on
  corruption), with stored-raw passthrough when compressedSize ==
  uncompressedSize;
* line splitting follows Hadoop `LineRecordReader` semantics (S5 in
  SURVEY.md §2.1): a split that does not start at the first block discards
  everything up to and including the first newline, and the owner of a line
  is the split owning the byte *before* its first byte — so the union of
  all splits is exactly the whole file, each line exactly once.
"""

from __future__ import annotations

import os
import random
import struct
from typing import BinaryIO, Iterator

from . import core
from .hadoop_stream import iter_hadoop_blocks
from .native import zstd_stream_decompress_chunks

__all__ = [
    "read_index",
    "iter_block_payloads",
    "decompress_file",
    "iter_lines_for_split",
    "iter_line_batches",
    "iter_stream_line_batches",
    "scan_file_info",
]

_FOOTER_READAHEAD = 4096  # FourMcInputStream.java:183


def read_index(f: BinaryIO, file_size: int | None = None) -> tuple[int, core.BlockIndex]:
    """Read header magic + footer block index. Returns (magic, index)."""
    if file_size is None:
        f.seek(0, os.SEEK_END)
        file_size = f.tell()
    f.seek(0)
    magic = core.decode_header(f.read(core.HEADER_SIZE))
    tail_size = min(_FOOTER_READAHEAD, file_size)
    f.seek(file_size - tail_size)
    tail = f.read(tail_size)
    if len(tail) >= 12:
        (footer_size,) = struct.unpack(">I", tail[-12:-8])
        if footer_size > len(tail) and footer_size <= file_size:
            f.seek(file_size - footer_size)
            tail = f.read(footer_size)
    offsets = core.decode_footer(tail, magic, file_size)
    return magic, core.BlockIndex(offsets)


def iter_block_payloads(
    f: BinaryIO,
    codec: str,
    start_offset: int = core.HEADER_SIZE,
    verify: bool = True,
) -> Iterator[tuple[int, bytes]]:
    """Yield (block_offset, uncompressed_bytes) streaming from *start_offset*.

    Stops at the EOS marker (12 zero bytes, `4mc-format-spec:11`). Blocks are
    self-delimiting so no index is needed — O(1) state per stream.
    """
    f.seek(start_offset)
    pos = start_offset
    while (block := core.read_block(f)) is not None:
        _, usize, csize, checksum, payload = block
        yield pos, core.decode_block(codec, payload, 0, csize, usize, checksum, verify)
        pos += core.BLOCK_HEADER_SIZE + csize


def decompress_file(
    path: str, verify: bool = True, threads: int | None = None
) -> memoryview:
    """Whole-file decompression (CLI / verification path).

    ``threads > 1`` decodes the independent blocks on a thread pool
    (:mod:`.parallel`) — identical result, near-linear speedup.  The
    single-thread path uses the same zero-copy machinery (one file read,
    one preallocated output, in-place block decode) rather than a
    per-block read/alloc/join loop, which costs ~3x the memory traffic.
    """
    from .parallel import decompress_file_parallel

    return decompress_file_parallel(path, threads=threads or 1, verify=verify)


def bounded_put(cache: dict, limit: int, key, value) -> None:
    """``cache[key] = value``, first evicting a random sixteenth of
    *cache* when it holds *limit* entries. A planner asks for a table's
    files in the same order every plan, so clearing when full, or
    evicting the oldest entry, misses on every file of a table larger
    than *limit*: the next file asked for is always one just evicted.
    Random victims keep most of such a table warm and still let the
    next table in. Safe under concurrent planners: ``list`` and ``pop``
    on a str-keyed dict each run under one hold of the interpreter
    lock, and a victim another thread evicted first is skipped."""
    if len(cache) >= limit:
        keys = list(cache)
        for k in random.sample(keys, min(len(keys), max(1, limit // 16))):
            cache.pop(k, None)
    cache[key] = value


_SCAN_INFO_CACHE: dict[
    str, tuple[tuple[int, int], bytes, tuple[str, int, list[int]]]
] = {}
_SCAN_INFO_CACHE_MAX = 4096
_FP_BYTES = 16  # footer tail: covers the delta-index end + footer checksum


def scan_file_info(path: str) -> tuple[str, int, list[int]]:
    """Planner helper: one tail read -> (codec, file_size, block_offsets).

    Cached per (path, size, mtime_ns) PLUS a content fingerprint — the
    last 16 footer bytes (delta-index tail + footer checksum). stat()
    alone is spoofable: cp -p / rsync -t / archive extraction can replace
    a file with a same-size twin and preserved timestamps, and serving
    the stale index would mean silently corrupt splits. A hit therefore
    re-reads just those 16 bytes (one tiny pread, not the full footer
    decode — footers are 20+4n bytes and planning may cover thousands of
    files); any content change in a sealed 4mc file perturbs its
    checksummed footer tail, so the stale entry always misses."""
    st = os.stat(path)
    key = (st.st_size, st.st_mtime_ns)
    hit = _SCAN_INFO_CACHE.get(path)
    if hit is not None and hit[0] == key:
        with open(path, "rb") as f:
            f.seek(max(0, st.st_size - _FP_BYTES))
            if f.read(_FP_BYTES) == hit[1]:
                return hit[2]
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        size = f.tell()
        magic, index = read_index(f, size)
        info = (core.codec_for_magic(magic), size, index.offsets)
        f.seek(max(0, size - _FP_BYTES))
        fp = f.read(_FP_BYTES)
    bounded_put(_SCAN_INFO_CACHE, _SCAN_INFO_CACHE_MAX, path, (key, fp, info))
    return info


def iter_lines_for_split(
    f: BinaryIO,
    codec: str,
    split_start: int,
    split_end: int,
    verify: bool = True,
) -> Iterator[tuple[int, bytes]]:
    """Yield (owner_block_offset, line_bytes) for one block-aligned split.

    ``split_start``/``split_end`` are compressed offsets aligned to block
    boundaries by the planner (``BlockIndex.align_slice_*``).  Ownership rule
    (equivalent to Hadoop LineRecordReader's skip-first/read-past-end,
    `FourMcLineRecordReader.java:137-163`): a line belongs to this split iff
    the byte preceding its first byte (the previous line's ``\\n``, or the
    start of file) lies in a block within [split_start, split_end).  The
    reader streams past split_end just far enough to finish the last owned
    line, then stops.

    Lines terminate at LF, CRLF, or bare CR (Hadoop LineReader semantics,
    `FourMcTextInputFormat.java:42-46`).  The yielded offset is the
    compressed offset of the block owning the line.
    """
    first_block = core.HEADER_SIZE
    if split_start < first_block:
        # a split starting at 0 covers the 12-byte file header; block 0
        # starts right after it (align_slice_start leaves start==0 untouched,
        # FourMcBlockIndex.java:142-153)
        split_start = first_block
    # owner of the next line to be assembled: for the very first line of the
    # file it is the first block; otherwise the block holding the previous \n
    # (-1 = a block before split_start, i.e. the line is not ours to emit).
    owner = first_block if split_start == first_block else -1
    carry = bytearray()
    prev_cr = False
    for boff, payload in iter_block_payloads(f, codec, split_start, verify=verify):
        if owner >= split_end:
            return
        lead, payload, prev_cr = _normalize_terminators(payload, prev_cr)
        if lead:
            owner = boff
        parts = payload.split(b"\n")
        n_complete = len(parts) - 1
        for k in range(n_complete):
            if k == 0:
                line = (bytes(carry) + parts[0]) if carry else parts[0]
                carry.clear()
                line_owner = owner
            else:
                line = parts[k]
                line_owner = boff
            if line_owner >= split_end:
                return
            if line_owner >= split_start:
                yield line_owner, line
            # the terminating newline of this line lives in the current
            # block, so the *next* line is owned by this block
            owner = boff
        if n_complete == 0:
            carry.extend(payload)
        else:
            carry = bytearray(parts[-1])
    # EOF: emit the final unterminated line if owned
    if carry and split_start <= owner < split_end:
        yield owner, bytes(carry)


def _normalize_terminators(
    raw: bytes, prev_cr: bool
) -> tuple[int, bytes, bool]:
    """The LF|CRLF|CR terminator rule for one chunk of a line stream:
    returns ``(lead, payload, ends_cr)`` with every terminator of *raw*
    rewritten to a single LF.

    When the previous chunk ended with ``\\r`` (*prev_cr*) and this one
    starts with ``\\n``, that LF is the second half of an already-handled
    CRLF (the ``\\r`` was normalized to a terminator with its chunk): it is
    dropped and ``lead`` is 1, so the next line starts after it — for 4mc
    it is owned by THIS block, because the terminator's last byte lives
    here.  A split starting at this block sees the same LF as an empty
    "line" owned by the previous (foreign) block and skips it, so the two
    readers agree: no duplicate, no loss.  ``ends_cr`` is the next chunk's
    *prev_cr*.
    """
    lead = 1 if prev_cr and raw[:1] == b"\n" else 0
    payload = raw[lead:] if lead else raw
    if b"\r" not in payload:  # common: LF-only payloads skip two copy passes
        return lead, payload, False
    ends_cr = payload.endswith(b"\r")
    return lead, payload.replace(b"\r\n", b"\n").replace(b"\r", b"\n"), ends_cr


def _iter_chunk_lines(chunks):
    """The one chunk splitter behind every codec's line batches.

    *chunks* yields ``(key, raw)`` decompressed chunks in stream order
    (``key`` is a 4mc block's compressed offset, or a stream position).
    Lines straddle chunks through a carry.  Per chunk this yields
    ``(key, lead, raw, head, mid)``: ``lead`` as in
    :func:`_normalize_terminators`; ``head`` the line the chunk's first
    terminator ends, carry included, or None when the chunk has no
    terminator (all of it joins the carry); ``mid`` the LF-joined complete
    lines after ``head``, or None.  At EOF a last ``(None, 0, b"", tail,
    None)`` carries the unterminated final line, if there is one.
    """
    carry = bytearray()
    prev_cr = False
    for key, raw in chunks:
        if not raw:
            continue  # an empty chunk must not reset a pending CR
        lead, payload, prev_cr = _normalize_terminators(raw, prev_cr)
        nl = payload.find(b"\n")
        if nl < 0:
            carry += payload
            yield key, lead, raw, None, None
            continue
        head = (bytes(carry) + payload[:nl]) if carry else payload[:nl]
        last_nl = payload.rfind(b"\n")
        carry = bytearray(payload[last_nl + 1 :])
        mid = payload[nl + 1 : last_nl] if last_nl > nl else None
        yield key, lead, raw, head, mid
    if carry:
        yield None, 0, b"", bytes(carry), None


def _lines_array(head: bytes | None, mid: bytes | None):
    """One ``large_binary`` array of *head* followed by the lines of the
    LF-joined *mid* (either may be None), split by Arrow's kernel —
    terminators were normalized to LF, so it covers LF / CRLF / bare CR."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = []
    if head is not None:
        parts.append(pa.array([head], type=pa.large_binary()))
    if mid is not None:
        parts.append(
            pc.split_pattern(
                pa.array([mid], type=pa.large_binary()), pattern=b"\n"
            ).values
        )
    return parts[0] if len(parts) == 1 else pa.concat_arrays(parts)


def iter_line_batches(
    f: BinaryIO,
    codec: str,
    start: int,
    end: int,
    verify: bool = True,
):
    """Yield ``(offsets, lines)`` batches — offsets as ``numpy.int64``,
    lines as a ``pyarrow`` large_binary array — for one slice of a file in
    any codec: ``lz4``/``zstd`` (4mc/4mz), ``zst`` or ``hadoop-<codec>``.

    Every codec splits lines through :func:`_iter_chunk_lines` with Arrow
    kernels, never a per-line Python loop; only the offsets differ.  A
    4mc/4mz line carries its owning block's compressed offset
    (:func:`iter_line_batches_for_split`, over the block-aligned
    [start, end)).  The stream codecs have no internal index, so their
    slice is the whole file and a line carries the decompressed-stream
    position of its first byte (:func:`iter_stream_line_batches`).
    """
    if codec == "zst":
        # reference ZstCodec.java:47-169: standard zstd frames, not 4mz
        compressed = iter(lambda: f.read(1 << 20), b"")
        yield from iter_stream_line_batches(
            zstd_stream_decompress_chunks(compressed)
        )
    elif codec.startswith("hadoop-"):
        yield from iter_stream_line_batches(
            iter_hadoop_blocks(f, codec[len("hadoop-") :])
        )
    else:
        yield from iter_line_batches_for_split(f, codec, start, end, verify)


def iter_stream_line_batches(chunks):
    """Yield ``(offsets, lines)`` for every line of an iterable of
    decompressed byte *chunks* (any chunking): each offset is the
    decompressed-stream position of the line's first byte, matching
    Hadoop's LineRecordReader over a compression codec."""
    import numpy as np

    def positioned():
        pos = 0
        for raw in chunks:
            yield pos, raw
            pos += len(raw)

    owner = 0  # stream position of the carried line's first byte
    for pos, lead, raw, head, mid in _iter_chunk_lines(positioned()):
        if lead:
            owner = pos + 1
        if head is None:
            continue
        if pos is None:  # EOF: the unterminated final line
            yield np.array([owner], dtype=np.int64), _lines_array(head, None)
            return
        # the stream position just past each of the chunk's terminators
        a = np.frombuffer(raw, dtype=np.uint8)[lead:]
        lf = a == 10
        cr = a == 13
        cr[:-1] &= ~lf[1:]  # a CRLF ends at its LF
        starts = np.flatnonzero(lf | cr) + (pos + lead + 1)
        offs = np.empty(len(starts), dtype=np.int64)
        offs[0] = owner
        offs[1:] = starts[:-1]
        owner = int(starts[-1])
        yield offs, _lines_array(head, mid)


def iter_line_batches_for_split(
    f: BinaryIO,
    codec: str,
    split_start: int,
    split_end: int,
    verify: bool = True,
):
    """The 4mc/4mz side of :func:`iter_line_batches`: yields the lines of
    one block-aligned split per block, exactly what
    :func:`iter_lines_for_split` yields (the scalar oracle).

    Ownership: a line belongs to this split iff the byte preceding it lies
    in a block within [split_start, split_end).  Within one block every
    line after the first is owned by that block, so ownership checks
    collapse to two block-level decisions.
    """
    import numpy as np

    first_block = core.HEADER_SIZE
    if split_start < first_block:
        split_start = first_block
    owner = first_block if split_start == first_block else -1
    blocks = iter_block_payloads(f, codec, split_start, verify=verify)
    for boff, lead, _, head, mid in _iter_chunk_lines(blocks):
        if owner >= split_end:
            return
        if boff is None:  # EOF: the unterminated final line
            if split_start <= owner:
                yield np.array([owner], dtype=np.int64), _lines_array(head, None)
            return
        if lead:
            owner = boff
        if head is None:
            continue
        head_owner, owner = owner, boff
        emit_head = split_start <= head_owner < split_end
        emit_mid = mid is not None and split_start <= boff < split_end
        if emit_head or emit_mid:
            lines = _lines_array(
                head if emit_head else None, mid if emit_mid else None
            )
            offs = np.full(len(lines), boff, dtype=np.int64)
            if emit_head:
                offs[0] = head_owner
            yield offs, lines
        if boff >= split_end:
            # every further line is owned by a block past the split
            return
