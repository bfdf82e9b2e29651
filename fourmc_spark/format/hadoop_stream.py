"""Hadoop BlockCompressorStream containers — the reference's "straight"
block codecs for M/R intermediate data.

The reference registers eight CompressionCodecs that wrap raw LZ4/ZSTD in
Apache Hadoop's generic block-stream container (``Lz4Codec.java:95-104``
builds ``BlockCompressorStream(out, compressor, 4 MiB, overhead)``;
``ZstdCodec.java`` mirrors it). File layout (Hadoop
``BlockCompressorStream`` / ``BlockDecompressorStream`` semantics — no
magic, no footer, not splittable):

    repeat:
      int32 BE  originalLen          # uncompressed bytes in this block
      repeat until originalLen reproduced:
        int32 BE  chunkLen
        chunk                        # raw LZ4 block / standard ZSTD frame

Extension -> algorithm (``getDefaultExtension`` of each codec class, with
the levels from ``jniCompressor.c:91-162`` / ``jniZstdCompressor.c:93-160``):

    .lz4_fast  LZ4 default       .zstd_fast  ZSTD level 1
    .lz4_mc    LZ4MC (~HC2 here) .zstd_mc    ZSTD level 3
    .lz4_hc    LZ4HC level 4     .zstd_hc    ZSTD level 6
    .lz4_uc    LZ4HC level 8     .zstd_uc    ZSTD level 12

Unlike 4mc there is NO passthrough rule and NO checksum: the stream
stores whatever the compressor emits. These files are ephemeral
intermediate data in the reference deployment, but jobs do leave them
behind — this module lets the engine read (and write) them directly.
Scale note: no internal index means one scan partition per file; for
splittable storage convert to .4mc/.4mz (``fourmc_spark.cli``).
"""

from __future__ import annotations

import struct
from typing import BinaryIO, Iterator

from .core import CONTAINERS, container_for_path
from .native import lz4_decompress_raw, zstd_decompress_raw

__all__ = [
    "HADOOP_EXTS",
    "iter_hadoop_blocks",
    "read_hadoop_file",
    "write_hadoop_file",
]

# extension (no dot) -> (codec, level-name): the Hadoop rows of the one
# container table, core.CONTAINERS
HADOOP_EXTS: dict[str, tuple[str, str]] = {
    c.ext[1:]: (c.codec, c.level)
    for c in CONTAINERS.values()
    if c.kind == "hadoop"
}

BLOCK_SIZE = 4 * 1024 * 1024  # LZ4_BUFFER_SIZE / ZSTD_BUFFER_SIZE


def write_hadoop_file(
    path: str, data: bytes, codec: str, level: str = "fast",
    block_size: int = BLOCK_SIZE,
) -> None:
    """Write *data* as a Hadoop block-compressor file (one chunk per
    block, exactly what the reference's 4 MiB-buffer compressors emit)."""
    from .writer import HadoopBlockWriter

    with open(path, "wb") as f, HadoopBlockWriter(
        f, codec, level, block_size
    ) as w:
        w.write(data)


def iter_hadoop_blocks(
    f: BinaryIO, codec: str, max_block: int = 256 * 1024 * 1024
) -> Iterator[bytes]:
    """Yield decompressed blocks from a Hadoop block-compressor stream.

    Handles multi-chunk blocks (``BlockCompressorStream`` splits writes
    larger than its buffer): chunks decode into the block's remaining
    original size until it is fully reproduced. *max_block* guards
    against corrupt headers allocating unbounded buffers.
    """
    dec = lz4_decompress_raw if codec == "lz4" else zstd_decompress_raw
    while True:
        hdr = f.read(4)
        if not hdr:
            return
        if len(hdr) != 4:
            raise ValueError("truncated hadoop block header")
        (orig_len,) = struct.unpack(">i", hdr)
        if orig_len < 0 or orig_len > max_block:
            raise ValueError(f"implausible hadoop block size {orig_len}")
        produced = 0
        parts: list[bytes] = []
        while produced < orig_len:
            chdr = f.read(4)
            if len(chdr) != 4:
                raise ValueError("truncated hadoop chunk header")
            (clen,) = struct.unpack(">i", chdr)
            if clen < 0 or clen > max_block:
                raise ValueError(f"implausible hadoop chunk size {clen}")
            chunk = f.read(clen)
            if len(chunk) != clen:
                raise ValueError("truncated hadoop chunk payload")
            out = dec(chunk, orig_len - produced)
            if not out and orig_len - produced:
                raise ValueError("hadoop chunk decoded to zero bytes")
            produced += len(out)
            parts.append(out)
        if produced != orig_len:
            raise ValueError(
                f"hadoop block produced {produced} bytes, header said {orig_len}"
            )
        yield b"".join(parts)


def read_hadoop_file(path: str, codec: str | None = None) -> bytes:
    """Whole-file decode; codec inferred from the extension if omitted."""
    if codec is None:
        c = container_for_path(path)
        if c is None or c.kind != "hadoop":
            raise ValueError(f"cannot infer hadoop block codec from {path!r}")
        codec = c.codec
    with open(path, "rb") as f:
        return b"".join(iter_hadoop_blocks(f, codec))
