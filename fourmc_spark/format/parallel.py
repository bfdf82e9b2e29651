"""Parallel block codec paths for 4mc/4mz files.

Every block in the container is independently compressed and framed
(`4mc-format-spec:23-27`) — the same property that makes a file splittable
across executors (SURVEY.md §2.1 S1) lets a single node decode or encode
one file on all cores with no format change.  The reference keeps its CLI
single-threaded (`native/4mc.c:220-389` is one read→compress→write loop);
this module is the multicore twin: identical bytes out, N× the speed.

The C codec calls release the GIL (ctypes), so a plain thread pool scales
near-linearly; the output buffer is preallocated once and every worker
decodes its block in place through :func:`.core.decode_block`, the one
block-decode rule the streaming scan also uses.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import BinaryIO, Iterator

import numpy as np

from . import core

__all__ = [
    "decompress_file_parallel",
    "iter_decoded_windows",
    "default_threads",
]

_DEFAULT_WINDOW = 64 << 20  # compressed bytes per bounded-memory window


def default_threads() -> int:
    return os.cpu_count() or 4


def _block_extents(offsets: list[int], file_size: int) -> list[int]:
    """End offset of every block, derived from the footer index alone.

    Block *i* ends where block *i+1* starts; the last block ends at the
    EOS marker, whose position follows from the footer size
    (``footerSize = 20 + 4*nblocks``, `4mc-format-spec:29-35`).
    """
    footer_size = 20 + 4 * len(offsets)
    eos_start = file_size - footer_size - core.BLOCK_HEADER_SIZE
    return offsets[1:] + [eos_start]


def _parse_blocks(
    buf, offsets: list[int], ends: list[int], base: int
) -> list[tuple[int, int, int, int]]:
    """Parse block headers inside *buf* (file bytes starting at *base*).

    Returns ``(payload_off, usize, csize, checksum)`` per block
    and cross-checks each block's framed size against the footer-derived
    extent — the decoder's index/stream consistency check
    (`native/4mc.c:560-707`).
    """
    blocks = []
    for off, end in zip(offsets, ends):
        rel = off - base
        fields = core.decode_block_header(buf, rel)
        if fields is None:
            raise core.BadFooterError(
                f"the footer index places a block at {off}, an EOS marker"
            )
        usize, csize, checksum = fields
        if off + core.BLOCK_HEADER_SIZE + csize != end:
            raise core.BadFooterError(
                f"block at {off} frames {csize} payload bytes but the footer "
                f"index places the next block at {end}"
            )
        blocks.append((rel + core.BLOCK_HEADER_SIZE, usize, csize, checksum))
    return blocks


def _alloc_output(blocks) -> tuple[np.ndarray, list[int]]:
    """The output buffer for *blocks* and each block's offset in it.

    Uninitialized: every byte is written by exactly one block decode, so
    bytearray's mandatory zero-fill is a pure second pass over the whole
    output (~35% of single-thread decode time).
    """
    out_offs = []
    total = 0
    for b in blocks:
        out_offs.append(total)
        total += b[1]
    return np.empty(total, dtype=np.uint8), out_offs


def _decode_blocks_into(
    src,
    blocks: list[tuple[int, int, int, int]],
    out,
    out_offs: list[int],
    codec: str,
    pool: ThreadPoolExecutor | None,
    verify: bool,
) -> None:
    """Decode every block into its slice of *out*: on *pool*, or in a
    plain loop when *pool* is None (no executor dispatch)."""

    def work(i: int) -> None:
        poff, usize, csize, checksum = blocks[i]
        core.decode_block(codec, src, poff, csize, usize, checksum, verify,
                          out, out_offs[i])

    if pool is None:
        for i in range(len(blocks)):
            work(i)
    else:
        # pool.map propagates the first worker exception
        list(pool.map(work, range(len(blocks))))


def decompress_file_parallel(
    path: str, threads: int | None = None, verify: bool = True
) -> memoryview:
    """Whole-file decode on *threads* cores (default: all).

    Single-shot: reads the compressed file once, preallocates the exact
    output size from the block headers, and decodes every block in place
    concurrently.  Peak memory = compressed + uncompressed size; use
    :func:`iter_decoded_windows` for bounded-memory streaming.
    """
    threads = threads or default_threads()
    with open(path, "rb") as f:
        data = f.read()
    size = len(data)
    magic = core.decode_header(data[:core.HEADER_SIZE])
    codec = core.codec_for_magic(magic)
    offsets = core.decode_footer(data, magic, size)
    ends = _block_extents(offsets, size)
    if offsets and offsets[0] != core.HEADER_SIZE:
        raise core.BadFooterError(f"first block at {offsets[0]}, expected 12")
    eos_start = ends[-1] if offsets else core.HEADER_SIZE
    if data[eos_start : eos_start + core.BLOCK_HEADER_SIZE] != core.EOS_MARKER:
        raise core.BadBlockError("missing EOS marker before footer")
    blocks = _parse_blocks(data, offsets, ends, base=0)
    out, out_offs = _alloc_output(blocks)
    if threads <= 1 or len(blocks) <= 1:  # no pool for 0 or 1 block
        _decode_blocks_into(data, blocks, out, out_offs, codec, None, verify)
    else:
        with ThreadPoolExecutor(max_workers=min(threads, len(blocks))) as pool:
            _decode_blocks_into(data, blocks, out, out_offs, codec, pool, verify)
    # bytes-like (len/slice/== bytes) without a copy; callers needing an
    # owned copy take bytes(result)
    return memoryview(out)


def iter_decoded_windows(
    f: BinaryIO,
    threads: int | None = None,
    verify: bool = True,
    window_bytes: int = _DEFAULT_WINDOW,
) -> Iterator[memoryview]:
    """Bounded-memory parallel decode: yields decompressed spans in file
    order, reading at most ~*window_bytes* of compressed data at a time.

    The footer index alone determines every block's extent, so windows are
    planned without touching block headers (one tail read, then strictly
    sequential forward reads — object-store friendly).
    """
    threads = threads or default_threads()
    from .reader import read_index

    f.seek(0, os.SEEK_END)
    size = f.tell()
    magic, index = read_index(f, size)
    codec = core.codec_for_magic(magic)
    offsets = index.offsets
    if not offsets:
        return
    ends = _block_extents(offsets, size)
    with ThreadPoolExecutor(max_workers=threads) as pool:
        i = 0
        n = len(offsets)
        while i < n:
            j = i + 1
            while j < n and ends[j - 1] - offsets[i] < window_bytes:
                j += 1
            start, stop = offsets[i], ends[j - 1]
            f.seek(start)
            buf = f.read(stop - start)
            if len(buf) != stop - start:
                raise core.BadBlockError("truncated block span")
            blocks = _parse_blocks(buf, offsets[i:j], ends[i:j], base=start)
            out, out_offs = _alloc_output(blocks)
            _decode_blocks_into(buf, blocks, out, out_offs, codec, pool, verify)
            yield memoryview(out)
            i = j
