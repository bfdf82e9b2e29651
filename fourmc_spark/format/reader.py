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
import struct
from typing import BinaryIO, Iterator

from . import core
from .native import lz4_decompress, zstd_decompress

__all__ = [
    "read_index",
    "iter_block_payloads",
    "decompress_file",
    "iter_lines_for_split",
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


def _decode_payload(
    codec: str, payload: bytes, uncompressed_size: int, stored_raw: bool, verify: bool,
    checksum: int,
) -> bytes:
    from .native import xxh32

    if verify and xxh32(payload) != checksum:
        raise core.BadBlockError("block checksum mismatch")
    if stored_raw:
        return payload
    try:
        if codec == "lz4":
            return lz4_decompress(payload, uncompressed_size)
        return zstd_decompress(payload, uncompressed_size)
    except core.FourMcFormatError:
        raise
    except ValueError as e:
        # codec-level failure (bad frame, size mismatch) = corrupt block
        raise core.BadBlockError(str(e)) from e


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
    while True:
        hdr = f.read(core.BLOCK_HEADER_SIZE)
        if len(hdr) < core.BLOCK_HEADER_SIZE:
            raise core.BadBlockError("truncated block header (missing EOS marker?)")
        usize, csize, checksum = struct.unpack(">III", hdr)
        if usize == 0 and csize == 0 and checksum == 0:
            return  # EOS
        if usize > core.MAX_BLOCK_SIZE:
            raise core.BadBlockError(
                f"block uncompressed size {usize} exceeds 4 MiB cap"
            )
        if csize > core.MAX_BLOCK_SIZE:
            raise core.BadBlockError(f"block compressed size {csize} exceeds cap")
        payload = f.read(csize)
        if len(payload) != csize:
            raise core.BadBlockError("truncated block payload")
        data = _decode_payload(codec, payload, usize, csize == usize, verify, checksum)
        yield pos, data
        pos += core.BLOCK_HEADER_SIZE + csize


def decompress_file(
    path: str, verify: bool = True, threads: int | None = None
) -> "bytes | bytearray | memoryview":
    """Whole-file decompression (CLI / verification path).

    ``threads > 1`` decodes the independent blocks on a thread pool
    (:mod:`.parallel`) — identical result, near-linear speedup.  The
    single-thread path uses the same zero-copy machinery (one file read,
    one preallocated output, in-place block decode) rather than a
    per-block read/alloc/join loop, which costs ~3x the memory traffic.
    """
    from .parallel import decompress_file_parallel

    return decompress_file_parallel(path, threads=threads or 1, verify=verify)


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
    if len(_SCAN_INFO_CACHE) >= _SCAN_INFO_CACHE_MAX:
        _SCAN_INFO_CACHE.clear()  # simple bound; planning repopulates
    _SCAN_INFO_CACHE[path] = (key, fp, info)
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
        payload, owner = _normalize_terminators(payload, prev_cr, owner, boff)
        if b"\r" in payload:  # rare: LF-only payloads skip two copy passes
            prev_cr = payload.endswith(b"\r")
            payload = payload.replace(b"\r\n", b"\n").replace(b"\r", b"\n")
        else:
            prev_cr = False
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
    payload: bytes, prev_cr: bool, owner: int, boff: int
) -> tuple[bytes, int]:
    """Cross-block CRLF resolution for the LF|CRLF|CR terminator rule.

    When the previous block ended with ``\\r`` and this one starts with
    ``\\n``, that LF is the second half of an already-handled CRLF (the
    ``\\r`` was normalized to a terminator when its block was processed) —
    drop it, and move ownership of the next line to THIS block, because the
    terminator's last byte lives here.  A split starting at this block sees
    the same LF as an empty "line" owned by the previous (foreign) block
    and skips it, so the two readers agree: no duplicate, no loss.
    """
    if prev_cr and payload[:1] == b"\n":
        return payload[1:], boff
    return payload, owner


def iter_lines_zst(f: BinaryIO, chunk_size: int = 1 << 20) -> Iterator[tuple[int, bytes]]:
    """Yield (decompressed_offset, line_bytes) from a standard ``.zst``
    streaming file (reference: ZstCodec.java:47-169 — single zstd frame,
    NOT the 4mz block format).

    Non-splittable by nature (no internal index), so one partition reads
    the whole stream; offsets are positions in the decompressed stream,
    matching Hadoop's LineRecordReader over a compression codec.
    """
    from fourmc_spark.format.native import zstd_stream_decompress_chunks

    def _compressed_chunks():
        while True:
            c = f.read(chunk_size)
            if not c:
                return
            yield c

    yield from _iter_stream_lines(
        zstd_stream_decompress_chunks(_compressed_chunks())
    )


def iter_lines_hadoop(
    f: BinaryIO, codec: str
) -> Iterator[tuple[int, bytes]]:
    """Yield (decompressed_offset, line_bytes) from a Hadoop
    BlockCompressorStream file (reference Lz4Codec/ZstdCodec intermediate
    format, ``format/hadoop_stream.py``). Like ``.zst``: no internal
    index, so one partition reads the whole stream and offsets are
    decompressed-stream positions (Hadoop LineRecordReader-over-codec
    semantics)."""
    from fourmc_spark.format.hadoop_stream import iter_hadoop_blocks

    yield from _iter_stream_lines(iter_hadoop_blocks(f, codec))


def _iter_stream_lines(chunks) -> Iterator[tuple[int, bytes]]:
    """Yield (decompressed_offset, line_bytes) for every line of a stream
    of decompressed byte *chunks*: lines may straddle chunks (carried
    over), and the final unterminated line is emitted at EOF."""
    pos = 0  # decompressed offset of the next unemitted line's first byte
    carry = bytearray()
    for chunk in chunks:
        carry.extend(chunk)
        for line, adv in _consume_terminated_lines(carry, at_eof=False):
            yield pos, line
            pos += adv
    for line, adv in _consume_terminated_lines(carry, at_eof=True):
        yield pos, line
        pos += adv
    if carry:
        yield pos, bytes(carry)


def _consume_terminated_lines(buf: bytearray, at_eof: bool):
    """Yield ``(line, advance)`` for each LF / CRLF / bare-CR terminated
    line at the front of *buf*, consuming them; ``advance`` is the exact
    original byte count (line + terminator), so stream offsets stay true.
    A trailing ``\\r`` is kept pending unless ``at_eof`` (it may be half a
    CRLF whose LF arrives in the next chunk)."""
    start = 0
    n = len(buf)
    while start < n:
        i_n = buf.find(b"\n", start)
        i_r = buf.find(b"\r", start)
        if i_n == -1 and i_r == -1:
            break
        if i_r == -1 or (0 <= i_n < i_r):
            yield bytes(buf[start:i_n]), i_n - start + 1
            start = i_n + 1
        else:
            if i_r == n - 1 and not at_eof:
                break  # CR at buffer edge: CRLF split not yet resolvable
            if i_r + 1 < n and buf[i_r + 1] == 0x0A:
                yield bytes(buf[start:i_r]), i_r - start + 2
                start = i_r + 2
            else:
                yield bytes(buf[start:i_r]), i_r - start + 1
                start = i_r + 1
    del buf[:start]


def iter_line_batches_for_split(
    f: BinaryIO,
    codec: str,
    split_start: int,
    split_end: int,
    verify: bool = True,
):
    """Vectorized twin of :func:`iter_lines_for_split`: yields
    ``(offsets, lines)`` per block — offsets as ``numpy.int64`` and lines
    as a ``pyarrow`` binary array — with line splitting done by Arrow
    compute kernels instead of a per-line Python loop (~5x faster scan).

    Ownership semantics are identical: a line belongs to this split iff
    the byte preceding it lies in a block within [split_start, split_end).
    Within one block every line after the first is owned by that block,
    so ownership checks collapse to two block-level decisions.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    first_block = core.HEADER_SIZE
    if split_start < first_block:
        split_start = first_block
    owner = first_block if split_start == first_block else -1
    carry = bytearray()
    prev_cr = False

    for boff, payload in iter_block_payloads(f, codec, split_start, verify=verify):
        if owner >= split_end:
            return
        payload, owner = _normalize_terminators(payload, prev_cr, owner, boff)
        if b"\r" in payload:  # rare: LF-only payloads skip two copy passes
            prev_cr = payload.endswith(b"\r")
            payload = payload.replace(b"\r\n", b"\n").replace(b"\r", b"\n")
        else:
            prev_cr = False
        nl = payload.find(b"\n")
        if nl < 0:
            carry.extend(payload)
            continue
        head_owner = owner
        head = (bytes(carry) + payload[:nl]) if carry else payload[:nl]
        carry.clear()
        last_nl = payload.rfind(b"\n")
        mid = payload[nl + 1 : last_nl] if last_nl > nl else None
        carry = bytearray(payload[last_nl + 1 :])
        owner = boff

        emit_head = split_start <= head_owner < split_end
        emit_mid = mid is not None and split_start <= boff < split_end

        offs_parts = []
        line_parts = []
        if emit_head:
            offs_parts.append(np.array([head_owner], dtype=np.int64))
            line_parts.append(pa.array([head], type=pa.large_binary()))
        if emit_mid:
            # terminators were normalized to LF above, so one split kernel
            # covers LF / CRLF / bare-CR alike
            arr = pc.split_pattern(
                pa.array([mid], type=pa.large_binary()), pattern=b"\n"
            ).values
            offs_parts.append(np.full(len(arr), boff, dtype=np.int64))
            line_parts.append(arr)
        if line_parts:
            offs = np.concatenate(offs_parts) if len(offs_parts) > 1 else offs_parts[0]
            lines = pa.concat_arrays(line_parts) if len(line_parts) > 1 else line_parts[0]
            yield offs, lines
        if boff >= split_end:
            # every further line is owned by a block past the split
            return
    if carry and split_start <= owner < split_end:
        yield (
            np.array([owner], dtype=np.int64),
            pa.array([bytes(carry)], type=pa.large_binary()),
        )
