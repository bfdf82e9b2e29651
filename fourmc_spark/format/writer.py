"""File container writers: 4mc/4mz, .zst and Hadoop block-codec files.

The 4mc/4mz writer mirrors the reference sink semantics
(`FourMcOutputStream.java:69-223`, K1/K2 in SURVEY.md §2.1): buffer input
into <= 4 MiB blocks, compress each independently, frame with sizes +
xxh32, store raw when compression does not shrink the payload, then emit
the EOS marker and the delta-encoded footer index at close.  All three
writers share one block-buffering loop, :class:`_BlockWriter`.
"""

from __future__ import annotations

import io
import struct
from typing import BinaryIO

from . import core
from .native import (
    LZ4_LEVELS,
    ZSTD_LEVELS,
    lz4_compress,
    lz4_compress_raw,
    zstd_compress,
    zstd_compress_raw,
)

__all__ = [
    "FourMcWriter",
    "HadoopBlockWriter",
    "ZstWriter",
    "write_file",
    "write_zst_file",
    "normalize_codec",
    "normalize_level",
    "writer_for",
    "zst_level",
]

_HADOOP_BLOCK_HEADER = struct.Struct(">ii")  # originalLen, chunkLen


_POOLS: dict[int, object] = {}
_POOLS_LOCK = None


def _shared_pool(workers: int):
    """Process-wide encode pool per worker count.

    Writers come and go (one per CLI file / bench pass); the pool and its
    threads' thread-local scratch buffers persist, so steady-state encode
    speed is reached once per process instead of once per file. Ordering
    is unaffected — each writer keeps its own in-order pending queue.
    """
    global _POOLS_LOCK
    import threading
    from concurrent.futures import ThreadPoolExecutor

    if _POOLS_LOCK is None:
        _POOLS_LOCK = threading.Lock()
    with _POOLS_LOCK:
        pool = _POOLS.get(workers)
        if pool is None:
            pool = ThreadPoolExecutor(max_workers=workers)
            _POOLS[workers] = pool
        return pool


def normalize_codec(codec: str) -> str:
    """lz4 | zstd: the codec of the footer-indexed container *codec*
    names (:func:`core.container_for_codec`). A container without a
    footer index (.zst, the Hadoop block codecs) is a ValueError: the
    callers write 4mc/4mz framing, and would silently write it under a
    name that promises another container."""
    c = core.container_for_codec(codec)
    if not c.indexed:
        raise ValueError(
            f"codec {codec!r} names the {c.ext} container, which has no "
            "footer index; expected lz4|zstd|4mc|4mz"
        )
    return c.codec


def normalize_level(level: str | int) -> str:
    names = ["fast", "medium", "high", "ultra"]
    if isinstance(level, int):
        if 1 <= level <= 4:
            return names[level - 1]
        raise ValueError(f"level int must be 1..4, got {level}")
    lv = str(level).lower()
    if lv in names:
        return lv
    if lv.isdigit() and 1 <= int(lv) <= 4:
        return names[int(lv) - 1]
    raise ValueError(f"unknown level {level!r}")


class _BlockWriter:
    """The block-buffering loop every container writer shares: input is
    cut into ``block_size`` blocks, each handed in order to the
    subclass's ``_flush_block``; the remainder goes out at close, and then
    the subclass's ``_close_tail`` seals the file."""

    def __init__(self, out: BinaryIO, block_size: int) -> None:
        self._out = out
        self.block_size = block_size
        self._buf = bytearray()
        self._pos = 0
        self._closed = False

    def _write_raw(self, data: bytes) -> None:
        self._out.write(data)
        self._pos += len(data)

    def _flush_block(self, chunk: bytes) -> None:
        raise NotImplementedError

    def _close_tail(self) -> None:
        """Whatever follows the last block (nothing by default)."""

    def write(self, data: bytes) -> None:
        if self._closed:
            raise ValueError("writer is closed")
        # slice full blocks straight from the input (zero re-buffering for
        # large writes; only the trailing remainder is buffered) — mirrors
        # the oversized-write chunking of FourMcOutputStream.java:163-173
        mv = memoryview(data)
        pos = 0
        n = len(mv)
        if self._buf:
            need = self.block_size - len(self._buf)
            take = min(need, n)
            self._buf.extend(mv[:take])
            pos = take
            if len(self._buf) == self.block_size:
                self._flush_block(bytes(self._buf))
                self._buf.clear()
        while n - pos >= self.block_size:
            self._flush_block(bytes(mv[pos : pos + self.block_size]))
            pos += self.block_size
        if pos < n:
            self._buf.extend(mv[pos:])

    def write_line(self, line: bytes | str) -> None:
        if isinstance(line, str):
            line = line.encode("utf-8")
        self.write(line + b"\n")

    @property
    def bytes_written(self) -> int:
        return self._pos

    def close(self) -> None:
        if self._closed:
            return
        if self._buf:
            self._flush_block(bytes(self._buf))
            self._buf.clear()
        self._close_tail()
        self._closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class FourMcWriter(_BlockWriter):
    """Streaming writer producing a spec-conformant .4mc / .4mz file.

    Parameters
    ----------
    out : binary file-like (or path via :func:`write_file`)
    codec : "lz4" (-> .4mc) or "zstd" (-> .4mz)
    level : fast | medium | high | ultra (or 1..4)
    block_size : uncompressed block granule, <= 4 MiB
    workers : > 1 enables pipelined parallel compression — blocks are
        independent (`4mc-format-spec:23-27`), so compression AND framing
        (checksum + header) run on a thread pool (the C codec and xxh32
        calls release the GIL); the main thread only appends the framed
        blocks strictly in submission order, so the output bytes are
        identical to the serial writer's.  In-flight blocks are bounded
        to ``workers + 4`` (~4 MiB each), keeping memory flat for streams
        of any length — the multicore twin of the reference's
        single-thread loop (`native/4mc.c:220-389`).
    """

    def __init__(
        self,
        out: BinaryIO,
        codec: str = "lz4",
        level: str | int = "fast",
        block_size: int = core.MAX_BLOCK_SIZE,
        workers: int | None = None,
    ) -> None:
        if block_size <= 0 or block_size > core.MAX_BLOCK_SIZE:
            raise ValueError(
                f"block_size must be in (0, {core.MAX_BLOCK_SIZE}], got {block_size}"
            )
        super().__init__(out, block_size)
        self.codec = normalize_codec(codec)
        self.level_name = normalize_level(level)
        self._magic = core.magic_for_codec(self.codec)
        if self.codec == "lz4":
            lvl = LZ4_LEVELS[self.level_name]
            self._compress = lambda b: lz4_compress(b, lvl)
        else:
            lvl = ZSTD_LEVELS[self.level_name]
            self._compress = lambda b: zstd_compress(b, lvl)
        self.block_offsets: list[int] = []
        self._pool = None
        if workers is not None and workers > 1:
            from collections import deque

            self._pool = _shared_pool(workers)
            self._pending: "deque" = deque()
            self._max_inflight = workers + 4
        self._write_raw(core.encode_header(self._magic))

    def _encode_one(self, chunk: bytes) -> bytes:
        """Compress-or-passthrough + frame one block — the whole per-block
        pipeline (FourMcOutputStream.java:195-223), safe to run off the
        main thread: the codec and xxh32 release the GIL."""
        compressed = self._compress(chunk)
        if compressed is None:  # incompressible: store raw
            return core.encode_block(len(chunk), chunk, compressed=False)
        return core.encode_block(len(chunk), compressed, compressed=True)

    def _emit_framed(self, framed: bytes) -> None:
        self.block_offsets.append(self._pos)
        self._write_raw(framed)

    def _drain_one(self) -> None:
        self._emit_framed(self._pending.popleft().result())

    def _flush_block(self, chunk: bytes) -> None:
        if self._pool is None:
            self._emit_framed(self._encode_one(chunk))
            return
        self._pending.append(self._pool.submit(self._encode_one, chunk))
        # emit every block already finished, and block on the oldest when
        # the in-flight bound is hit (keeps memory flat, order exact)
        while self._pending and (
            len(self._pending) > self._max_inflight or self._pending[0].done()
        ):
            self._drain_one()

    def _close_tail(self) -> None:
        if self._pool is not None:
            # drain our queue only; the pool is shared and outlives us
            while self._pending:
                self._drain_one()
        self._write_raw(core.encode_eos())
        self._write_raw(core.encode_footer(self._magic, self.block_offsets))


def zst_level(level: str | int | None) -> int:
    """Reference ZstCodec level rule (`ZstCodec.java:118-122`): numeric
    level from conf, default 1, out-of-range/invalid -> 3. Level names are
    also accepted and map through the 4mz table (fast=1 .. ultra=12)."""
    if level is None:
        return 1
    if isinstance(level, str) and level.lower() in ZSTD_LEVELS:
        return ZSTD_LEVELS[level.lower()]
    try:
        lv = int(level)
    except (TypeError, ValueError):
        return 3
    return lv if 1 <= lv <= 22 else 3


class ZstWriter(_BlockWriter):
    """Standard ``.zst`` streaming writer (reference C8:
    `ZstCodec.java:47-169`, `ZstdStreamCompressor.java:41-331`): ONE zstd
    frame for the whole stream, 256 KiB input granules, O(buffer) memory.

    Unlike 4mc/4mz there is no block index — the output is not splittable
    (one partition per file at scan time); it exists for interop with
    plain-zstd tooling, and the scale guidance stays "write 4mz".
    """

    def __init__(self, out: BinaryIO, level: str | int | None = 1) -> None:
        from .native import ZstdStreamCompressor

        super().__init__(out, 256 * 1024)  # ZstCodec.java:51 buffer size
        self.level = zst_level(level)
        self._comp = ZstdStreamCompressor(self.level)

    def _flush_block(self, chunk: bytes) -> None:
        out = self._comp.compress(chunk)
        if out:
            self._write_raw(out)

    def _close_tail(self) -> None:
        tail = self._comp.finish()
        if tail:
            self._write_raw(tail)


def write_zst_file(path: str, data: bytes, level: str | int | None = 1) -> int:
    """Compress *data* into a standard .zst file; returns bytes written."""
    with open(path, "wb") as f:
        with ZstWriter(f, level=level) as w:
            w.write(data)
        return w.bytes_written


def write_file(
    path: str,
    data: bytes,
    codec: str = "lz4",
    level: str | int = "fast",
    block_size: int = core.MAX_BLOCK_SIZE,
    workers: int | None = None,
) -> list[int]:
    """Compress *data* into a 4mc/4mz file; returns block offsets."""
    with open(path, "wb") as f:
        with FourMcWriter(
            f, codec=codec, level=level, block_size=block_size, workers=workers
        ) as w:
            w.write(data)
        return w.block_offsets


def compress_bytes(
    data: bytes,
    codec: str = "lz4",
    level: str | int = "fast",
    block_size: int = core.MAX_BLOCK_SIZE,
) -> bytes:
    """In-memory variant of :func:`write_file` (used by the Spark sink)."""
    buf = io.BytesIO()
    with FourMcWriter(buf, codec=codec, level=level, block_size=block_size) as w:
        w.write(data)
    return buf.getvalue()


class HadoopBlockWriter(_BlockWriter):
    """Streaming writer for the reference's straight-block-codec files
    (Hadoop ``BlockCompressorStream`` container, ``format/hadoop_stream.py``):
    ``[origLen BE4][chunkLen BE4][payload]`` per 4 MiB block, raw LZ4
    blocks or standard ZSTD frames, no passthrough/checksum/footer."""

    def __init__(self, out, codec: str = "lz4", level: str | int = "fast",
                 block_size: int | None = None) -> None:
        from .hadoop_stream import BLOCK_SIZE

        super().__init__(out, int(block_size or BLOCK_SIZE))
        if codec == "lz4":
            self._comp = lz4_compress_raw
            self._lvl = LZ4_LEVELS[level] if isinstance(level, str) else int(level)
        elif codec == "zstd":
            self._comp = zstd_compress_raw
            self._lvl = ZSTD_LEVELS[level] if isinstance(level, str) else int(level)
        else:
            raise ValueError(f"unknown hadoop block codec {codec!r}")

    def _flush_block(self, block: bytes) -> None:
        payload = self._comp(block, self._lvl)
        self._write_raw(_HADOOP_BLOCK_HEADER.pack(len(block), len(payload)))
        self._write_raw(payload)


def writer_for(
    container: core.Container,
    out: BinaryIO,
    level: str | int | None = "fast",
    block_size: int = core.MAX_BLOCK_SIZE,
) -> _BlockWriter:
    """The writer that seals *container* into *out*.  *level* and
    *block_size* apply to a 4mc/4mz file; a .zst stream takes *level* by
    :func:`zst_level`; a Hadoop container writes its extension's level in
    the reference's 4 MiB blocks."""
    if container.kind == "hadoop":
        return HadoopBlockWriter(out, container.codec, container.level)
    if container.kind == "zst":
        return ZstWriter(out, level)
    return FourMcWriter(out, container.codec, level, block_size)
