"""File containers: the extension table, and the 4mc/4mz format's
constants, framing and block index.

Byte layout re-implemented from the public format specs
(`/root/reference/4mc-format-spec`, `4mz-format-spec`) and pinned against
the reference writer (`FourMcOutputStream.java:69-137`, `native/4mc.c:300-365`):

    SIGN+HEADER   magic(4, BE) | version(4, BE=1) | xxh32(first 8 bytes, seed 0)
    BLOCK         uncompressedSize(4) | compressedSize(4) | xxh32(payload) | payload
                  (compressedSize == uncompressedSize => payload stored raw)
    EOS           12 zero bytes
    FOOTER        footerSize(4) | version(4) | delta offsets(4 each) |
                  footerSize(4) | magic(4) | xxh32(footer[:-4])

All integers big-endian.  Block offsets in the footer are deltas between
consecutive *absolute* block start positions; the first delta is the header
size (12).  Max uncompressed block size is 4 MiB (`FourMcCodec.java:86`).
"""

from __future__ import annotations

import struct
from bisect import bisect_left, bisect_right
from dataclasses import dataclass
from typing import BinaryIO

from .native import decompress_at, xxh32, xxh32_at

__all__ = [
    "MAGIC_4MC",
    "MAGIC_4MZ",
    "VERSION",
    "HEADER_SIZE",
    "BLOCK_HEADER_SIZE",
    "MAX_BLOCK_SIZE",
    "CONTAINERS",
    "Container",
    "FourMcFormatError",
    "BadHeaderError",
    "BadFooterError",
    "BadBlockError",
    "BlockIndex",
    "NOT_FOUND",
    "encode_header",
    "decode_header",
    "encode_block",
    "decode_block_header",
    "read_block",
    "decode_block",
    "encode_eos",
    "encode_footer",
    "decode_footer",
    "codec_for_magic",
    "container_for_codec",
    "container_for_path",
    "extension_for_codec",
    "is_indexed_path",
]

MAGIC_4MC = 0x344D4300  # "4MC\0"  (FourMcCodec.java:84)
MAGIC_4MZ = 0x344D5A00  # "4MZ\0"  (FourMzCodec.java:50)
VERSION = 1
HEADER_SIZE = 12
BLOCK_HEADER_SIZE = 12
EOS_MARKER = b"\x00" * 12
MAX_BLOCK_SIZE = 4 * 1024 * 1024  # FourMcCodec.java:86
NOT_FOUND = -1

_U32 = struct.Struct(">I")
_BLOCK_HEADER = struct.Struct(">III")


class FourMcFormatError(ValueError):
    """Base error for malformed 4mc/4mz containers."""


class BadHeaderError(FourMcFormatError):
    pass


class BadFooterError(FourMcFormatError):
    pass


class BadBlockError(FourMcFormatError):
    pass


# ---------------------------------------------------------------------------
# the container table
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Container:
    """One file container, keyed by its extension in :data:`CONTAINERS`.

    ``kind`` is ``"4mc"`` (this module's footer-indexed framing, split at
    block boundaries), ``"zst"`` (one standard zstd stream, the
    reference's ``ZstCodec.java:47-169``) or ``"hadoop"`` (Hadoop's
    BlockCompressorStream, :mod:`.hadoop_stream`).  ``codec`` is lz4 or
    zstd; ``level`` is the level a Hadoop extension fixes, else None.
    """

    ext: str
    kind: str
    codec: str
    level: str | None = None

    @property
    def indexed(self) -> bool:
        """Footer-indexed (4mc/4mz): splittable, and the only kind the
        raw block copy, the protobuf source and the CLI handle.  The
        other kinds have no index and are read whole, one slice a file."""
        return self.kind == "4mc"

    @property
    def slice_codec(self) -> str:
        """The codec a scan slice hands ``reader.iter_line_batches``."""
        return {"4mc": self.codec, "zst": "zst"}.get(
            self.kind, "hadoop-" + self.codec
        )


# Every container the engine lists, reads and writes.  The Hadoop block
# codecs' extensions are the reference's ``getDefaultExtension``s
# (``Lz4Codec.java:163`` / ``ZstdCodec.java``): <codec>_<level suffix>.
CONTAINERS: dict[str, Container] = {
    c.ext: c
    for c in (
        Container(".4mc", "4mc", "lz4"),
        Container(".4mz", "4mc", "zstd"),
        Container(".zst", "zst", "zstd"),
        *(
            Container(f".{codec}_{sfx}", "hadoop", codec, level)
            for codec in ("lz4", "zstd")
            for sfx, level in (
                ("fast", "fast"), ("mc", "medium"), ("hc", "high"),
                ("uc", "ultra"),
            )
        ),
    )
}
_INDEXED = {c.codec: c for c in CONTAINERS.values() if c.indexed}


def container_for_path(path: str) -> Container | None:
    """The container *path*'s extension names, or None.  (With no dot the
    slice is the last character, which no extension matches.)"""
    return CONTAINERS.get(path[path.rfind(".") :])


def is_indexed_path(path: str) -> bool:
    """True when *path*'s extension names a footer-indexed container."""
    c = container_for_path(path)
    return c is not None and c.indexed


def container_for_codec(name: str) -> Container:
    """The container a ``codec`` option names, in any case: a
    footer-indexed one by its codec (lz4, zstd), or any one by its
    extension without the dot (4mc, 4mz, zst, lz4_fast, ...)."""
    n = name.lower()
    c = _INDEXED.get(n) or CONTAINERS.get("." + n)
    if c is None:
        raise ValueError(
            f"unknown codec {name!r} (expected one of "
            f"{', '.join([*_INDEXED, *(e[1:] for e in CONTAINERS)])})"
        )
    return c


def extension_for_codec(codec: str) -> str:
    """The footer-indexed container's extension for *codec* (lz4|zstd)."""
    return _INDEXED[codec].ext


def codec_for_magic(magic: int) -> str:
    if magic == MAGIC_4MC:
        return "lz4"
    if magic == MAGIC_4MZ:
        return "zstd"
    raise BadHeaderError(f"unknown magic 0x{magic:08X}")


def magic_for_codec(codec: str) -> int:
    if codec == "lz4":
        return MAGIC_4MC
    if codec == "zstd":
        return MAGIC_4MZ
    raise ValueError(f"unknown codec {codec!r} (expected lz4|zstd)")


# ---------------------------------------------------------------------------
# framing
# ---------------------------------------------------------------------------


def encode_header(magic: int) -> bytes:
    body = _U32.pack(magic) + _U32.pack(VERSION)
    return body + _U32.pack(xxh32(body))


def decode_header(buf: bytes) -> int:
    """Validate a 12-byte header; returns the magic (selects the codec)."""
    if len(buf) < HEADER_SIZE:
        raise BadHeaderError("file shorter than 4mc header")
    magic, version, checksum = struct.unpack(">III", buf[:HEADER_SIZE])
    if magic not in (MAGIC_4MC, MAGIC_4MZ):
        raise BadHeaderError(f"bad magic 0x{magic:08X}")
    if version != VERSION:
        raise BadHeaderError(f"unsupported version {version}")
    if xxh32(buf[:8]) != checksum:
        raise BadHeaderError("header checksum mismatch")
    return magic


def encode_block(uncompressed_size: int, payload: bytes, compressed: bool) -> bytes:
    """Frame one block. *payload* is the stored bytes (compressed or raw)."""
    stored_size = len(payload) if compressed else uncompressed_size
    return (
        _BLOCK_HEADER.pack(uncompressed_size, stored_size, xxh32(payload))
        + payload
    )


def decode_block_header(buf, pos: int = 0) -> tuple[int, int, int] | None:
    """``(uncompressed_size, stored_size, checksum)`` of the block header
    at *pos* in *buf*, or None for the EOS marker.  Fewer than 12 bytes
    left, or a size over the 4 MiB cap, is a :class:`BadBlockError`."""
    if len(buf) - pos < BLOCK_HEADER_SIZE:
        raise BadBlockError("truncated block header (missing EOS marker?)")
    usize, csize, checksum = _BLOCK_HEADER.unpack_from(buf, pos)
    if usize == 0 and csize == 0 and checksum == 0:
        return None
    if usize > MAX_BLOCK_SIZE:
        raise BadBlockError(f"block uncompressed size {usize} exceeds 4 MiB cap")
    if csize > MAX_BLOCK_SIZE:
        raise BadBlockError(f"block compressed size {csize} exceeds cap")
    return usize, csize, checksum


def read_block(f: BinaryIO) -> tuple[bytes, int, int, int, bytes] | None:
    """The next framed block of *f*: ``(header, uncompressed_size,
    stored_size, checksum, payload)``, or None at the EOS marker."""
    header = f.read(BLOCK_HEADER_SIZE)
    fields = decode_block_header(header)
    if fields is None:
        return None
    payload = f.read(fields[1])
    if len(payload) != fields[1]:
        raise BadBlockError("truncated block payload")
    return (header, *fields, payload)


def decode_block(
    codec: str, src, off: int, csize: int, usize: int, checksum: int,
    verify: bool = True, out=None, out_off: int = 0,
):
    """Decode the block payload ``src[off:off+csize]`` — the one 4mc
    block-decode rule: the xxh32 check (when *verify*), stored-raw
    passthrough when ``csize == usize`` (``native/4mc.c:305-331``), the
    lz4/zstd decode, and any codec failure raised as a
    :class:`BadBlockError`.

    With *out*, the block decodes in place into
    ``out[out_off:out_off+usize]`` and *out* is returned. Without, the
    decoded block is returned: a fresh buffer, or, for a stored-raw
    block, the payload itself (*src* when it is exactly the payload).
    """
    if verify and xxh32_at(src, off, csize) != checksum:
        raise BadBlockError("block checksum mismatch")
    if csize == usize:
        if out is None:
            return src[off:off + csize]
        out[out_off:out_off + usize] = memoryview(src)[off:off + csize]
        return out
    if out is None:
        out, out_off = bytearray(usize), 0
    try:
        decompress_at(codec, src, off, csize, out, out_off, usize)
    except ValueError as e:
        # codec-level failure (bad frame, size mismatch) = corrupt block
        raise BadBlockError(str(e)) from e
    return out


def encode_eos() -> bytes:
    return EOS_MARKER


def encode_footer(magic: int, block_offsets: list[int]) -> bytes:
    """Delta-encoded footer (FourMcOutputStream.java:112-129)."""
    footer_size = 20 + 4 * len(block_offsets)
    parts = [_U32.pack(footer_size), _U32.pack(VERSION)]
    prev = 0
    for off in block_offsets:
        parts.append(_U32.pack(off - prev))
        prev = off
    parts.append(_U32.pack(footer_size))
    parts.append(_U32.pack(magic))
    body = b"".join(parts)
    return body + _U32.pack(xxh32(body))


def decode_footer(tail: bytes, magic: int, file_size: int) -> list[int]:
    """Decode the footer from the file tail; returns absolute block offsets.

    *tail* must contain at least the whole footer (callers read 4 KiB from
    the end and retry bigger, like ``FourMcInputStream.readIndex``,
    ``FourMcInputStream.java:183-213``).
    """
    if len(tail) < 20:
        raise BadFooterError("file too short for 4mc footer")
    footer_size, file_magic, checksum = struct.unpack(">III", tail[-12:])
    if file_magic != magic:
        raise BadFooterError(
            f"bad footer magic 0x{file_magic:08X} (expected 0x{magic:08X})"
        )
    if footer_size > file_size or footer_size > len(tail):
        raise BadFooterError(
            f"footer size {footer_size} larger than available tail"
        )
    if footer_size < 20 or (footer_size - 20) % 4 != 0:
        raise BadFooterError(f"implausible footer size {footer_size}")
    footer = tail[-footer_size:]
    if xxh32(footer[:-4]) != checksum:
        raise BadFooterError("footer checksum mismatch")
    head_size, version = struct.unpack(">II", footer[:8])
    if head_size != footer_size:
        raise BadFooterError("footer size fields disagree")
    if version != VERSION:
        raise BadFooterError(f"unsupported footer version {version}")
    n_blocks = (footer_size - 20) // 4
    offsets: list[int] = []
    pos = 0
    for i in range(n_blocks):
        (delta,) = _U32.unpack_from(footer, 8 + 4 * i)
        pos += delta
        offsets.append(pos)
    return offsets


# ---------------------------------------------------------------------------
# block index (split planning arithmetic)
# ---------------------------------------------------------------------------


@dataclass
class BlockIndex:
    """Absolute block offsets + the reference's alignment arithmetic.

    Semantics pinned verbatim to ``FourMcBlockIndex.java:92-173`` and its
    unit vectors (``TestFourMcBlockIndex.java:41-84`` / FIXTURES.md F4).
    """

    offsets: list[int]

    def __len__(self) -> int:
        return len(self.offsets)

    def is_empty(self) -> bool:
        return not self.offsets

    def find_next_position(self, pos: int) -> int:
        """Smallest block offset >= pos, or NOT_FOUND."""
        i = bisect_left(self.offsets, pos)
        if i >= len(self.offsets):
            return NOT_FOUND
        return self.offsets[i]

    def find_belonging_block_index(self, pos: int) -> int:
        """Index of the block containing pos, or NOT_FOUND."""
        i = bisect_right(self.offsets, pos) - 1
        if i < 0 or i > len(self.offsets) - 1:
            return NOT_FOUND
        return i

    def align_slice_start(self, start: int, end: int) -> int:
        """Nudge a slice start forward to a block boundary in [start, end).

        start == 0 is left untouched (the file header precedes block 0);
        NOT_FOUND drops the slice entirely (FourMcBlockIndex.java:142-153).
        """
        if start != 0:
            new_start = self.find_next_position(start)
            if new_start == NOT_FOUND or new_start >= end:
                return NOT_FOUND
            return new_start
        return start

    def align_slice_end(self, end: int, file_size: int) -> int:
        """Nudge a slice end to the next block start, else file size."""
        new_end = self.find_next_position(end)
        return new_end if new_end != NOT_FOUND else file_size
