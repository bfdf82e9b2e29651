"""Native compression/hash primitives for the 4mc/4mz formats.

Binds the *same* C libraries the reference binds through JNI
(``native/jniCompressor.c``, ``jniDecompressor.c``), and nothing else.
Like the reference's ``FourMcNativeCodeLoader`` there is no fallback:
the three libraries are required.

* ``liblz4``: raw LZ4 blocks (``LZ4_compress_default`` /
  ``LZ4_compress_HC`` / ``LZ4_decompress_safe``).
* ``libzstd``: ZSTD frames, one-shot (``ZSTD_compress`` /
  ``ZSTD_decompress``) and streaming (the CStream/DStream API).
* ``libxxhash``: XXH32 block checksums (the reference's seed is always
  0: ``native/4mc.c:311``, ``FourMcOutputStream.java:74``) and the XXH64
  behind bloom hashing.

Every C symbol is bound once, at import. A missing library raises
:class:`ImportError` naming it; a library too old to export a symbol
raises ctypes' :class:`AttributeError` naming the symbol.

Level semantics mirror ``native/4mc.c:243-253`` and the zstd level
table in ``Readme.md:30-33``:

* lz4:  fast = LZ4 default, medium = LZ4HC-2 (the reference's custom
  LZ4MC mode is an unreleased lz4 fork; reading is unaffected since
  all modes emit standard LZ4 blocks — see SURVEY.md §7 risk 2),
  high = LZ4HC-4, ultra = LZ4HC-8.
* zstd: fast = 1, medium = 3, high = 6, ultra = 12.
"""

from __future__ import annotations

import ctypes
import os
import threading

__all__ = [
    "xxh32",
    "xxh32_at",
    "xxh64",
    "xxh64_array",
    "decompress_at",
    "lz4_compress",
    "lz4_compress_raw",
    "lz4_decompress",
    "lz4_decompress_raw",
    "zstd_compress",
    "zstd_compress_raw",
    "zstd_decompress",
    "zstd_decompress_raw",
    "zstd_stream_decompress_chunks",
    "ZstdStreamCompressor",
    "LZ4_LEVELS",
    "ZSTD_LEVELS",
]

# codec level names -> native parameter (reference: native/4mc.c:243-253,
# ZstdCompressor.java:55 / ZstdMediumCompressor.java:45 / ZstdHighCompressor.java:45
# / ZstdUltraCompressor.java:45)
LZ4_LEVELS = {"fast": 0, "medium": 2, "high": 4, "ultra": 8}
ZSTD_LEVELS = {"fast": 1, "medium": 3, "high": 6, "ultra": 12}


def _load(lib: str, *names: str) -> ctypes.CDLL:
    for n in names:
        try:
            return ctypes.CDLL(n)
        except OSError:
            continue
    raise ImportError(
        f"fourmc_spark needs the {lib} shared library (tried {', '.join(names)})"
    )


def _bind(lib: ctypes.CDLL, name: str, restype, *argtypes):
    """C function *name* of *lib* with its signature set."""
    fn = getattr(lib, name)
    fn.restype, fn.argtypes = restype, list(argtypes)
    return fn


_xxh = _load("libxxhash", "libxxhash.so.0", "libxxhash.so", "libxxhash.dylib")
_lz4 = _load("liblz4", "liblz4.so.1", "liblz4.so", "liblz4.dylib")
_zstd = _load("libzstd", "libzstd.so.1", "libzstd.so", "libzstd.dylib")


class _ZstdBuffer(ctypes.Structure):  # ZSTD_inBuffer / ZSTD_outBuffer
    _fields_ = [
        ("dst", ctypes.c_void_p),
        ("size", ctypes.c_size_t),
        ("pos", ctypes.c_size_t),
    ]


_P, _SZ, _INT = ctypes.c_void_p, ctypes.c_size_t, ctypes.c_int
_BUF = ctypes.POINTER(_ZstdBuffer)

_XXH32 = _bind(_xxh, "XXH32", ctypes.c_uint32, _P, _SZ, ctypes.c_uint32)
_XXH64 = _bind(_xxh, "XXH64", ctypes.c_uint64, _P, _SZ, ctypes.c_uint64)
_LZ4_compress_default = _bind(_lz4, "LZ4_compress_default", _INT, _P, _P, _INT, _INT)
_LZ4_compress_HC = _bind(_lz4, "LZ4_compress_HC", _INT, _P, _P, _INT, _INT, _INT)
_LZ4_decompress_safe = _bind(_lz4, "LZ4_decompress_safe", _INT, _P, _P, _INT, _INT)
_ZSTD_compress = _bind(_zstd, "ZSTD_compress", _SZ, _P, _SZ, _P, _SZ, _INT)
_ZSTD_decompress = _bind(_zstd, "ZSTD_decompress", _SZ, _P, _SZ, _P, _SZ)
_ZSTD_isError = _bind(_zstd, "ZSTD_isError", ctypes.c_uint, _SZ)
_ZSTD_getErrorCode = _bind(_zstd, "ZSTD_getErrorCode", _INT, _SZ)
_ZSTD_getErrorName = _bind(_zstd, "ZSTD_getErrorName", ctypes.c_char_p, _SZ)
_ZSTD_createDStream = _bind(_zstd, "ZSTD_createDStream", _P)
_ZSTD_freeDStream = _bind(_zstd, "ZSTD_freeDStream", _SZ, _P)
_ZSTD_DCtx_setParameter = _bind(_zstd, "ZSTD_DCtx_setParameter", _SZ, _P, _INT, _INT)
_ZSTD_decompressStream = _bind(_zstd, "ZSTD_decompressStream", _SZ, _P, _BUF, _BUF)
_ZSTD_createCStream = _bind(_zstd, "ZSTD_createCStream", _P)
_ZSTD_freeCStream = _bind(_zstd, "ZSTD_freeCStream", _SZ, _P)
_ZSTD_initCStream = _bind(_zstd, "ZSTD_initCStream", _SZ, _P, _INT)
_ZSTD_compressStream = _bind(_zstd, "ZSTD_compressStream", _SZ, _P, _BUF, _BUF)
_ZSTD_endStream = _bind(_zstd, "ZSTD_endStream", _SZ, _P, _BUF)


_tls = threading.local()


def _scratch(cap: int):
    """Thread-local reusable compress destination buffer.

    One ≤4 MiB allocation per *thread*, not per block — under a
    multi-worker encode (writer ``workers=N``, ``parallel.py``) per-block
    ``create_string_buffer`` calls serialize on the allocator and fault in
    fresh pages every time, which caps fast-LZ4 throughput below the
    single-thread rate.
    """
    buf = getattr(_tls, "buf", None)
    if buf is None or ctypes.sizeof(buf) < cap:
        buf = ctypes.create_string_buffer(cap)
        _tls.buf = buf
    return buf


def _addr_at(buf, off: int) -> tuple[int, object]:
    """(address of buf[off], keep-alive object) without copying.

    `buf` is ``bytes`` (read-only OK — ``c_char_p`` shares the buffer) or a
    writable buffer (``bytearray``/``memoryview``/numpy). The keep-alive
    object must stay referenced until the C call returns.
    """
    if isinstance(buf, bytes):
        p = ctypes.c_char_p(buf)
        return ctypes.cast(p, ctypes.c_void_p).value + off, p
    arr = (ctypes.c_char * 0).from_buffer(buf, off)
    return ctypes.addressof(arr), arr

# ---------------------------------------------------------------------------
# XXH32
# ---------------------------------------------------------------------------


def xxh32(data: bytes, seed: int = 0) -> int:
    """32-bit xxHash of *data* (reference checksum primitive)."""
    return int(_XXH32(bytes(data), len(data), seed))


def xxh32_at(buf, off: int, n: int, seed: int = 0) -> int:
    """Zero-copy XXH32 of ``buf[off:off+n]`` (bytes or writable buffer)."""
    addr, keep = _addr_at(buf, off)
    h = int(_XXH32(addr, n, seed))
    del keep
    return h


# Pure-Python XXH32: the reference algorithm, which the tests check
# libxxhash against.
_P1, _P2, _P3, _P4, _P5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32_py(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH32; bit-identical to ``XXH32`` from libxxhash."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        limit = n - 16
        mv = memoryview(data)
        while i <= limit:
            w1 = int.from_bytes(mv[i : i + 4], "little")
            w2 = int.from_bytes(mv[i + 4 : i + 8], "little")
            w3 = int.from_bytes(mv[i + 8 : i + 12], "little")
            w4 = int.from_bytes(mv[i + 12 : i + 16], "little")
            v1 = (_rotl32((v1 + w1 * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + w2 * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + w3 * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + w4 * _P2) & _M32, 13) * _P1) & _M32
            i += 16
        h = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        h = (h + int.from_bytes(data[i : i + 4], "little") * _P3) & _M32
        h = (_rotl32(h, 17) * _P4) & _M32
        i += 4
    while i < n:
        h = (h + data[i] * _P5) & _M32
        h = (_rotl32(h, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


# ---------------------------------------------------------------------------
# XXH64 — the hash behind Spark's `xxhash64` expression (seed 42), verified
# bit-identical in tests/test_bloom.py. Every bloom builder (the sink's
# bloomcolumns, analyze_stats_proto, analyze_bloom) hashes whole Arrow
# arrays with `xxh64_array` through `sources.datasource.bloom_hashes`, and
# the planner (sources/datasource.py) hashes its few probe values with
# `xxh64`.
# ---------------------------------------------------------------------------


def xxh64(data: bytes, seed: int = 0) -> int:
    """64-bit xxHash of *data* (unsigned)."""
    return int(_XXH64(bytes(data), len(data), seed))


_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def xxh64_array(arr, seed: int = 0) -> "np.ndarray":
    """XXH64 of every value of an Arrow string/binary array (nulls hash
    their slot's bytes, so callers drop them first), as ``uint64``.

    Computed in numpy from the array's offsets and data buffers with no
    per-value Python: all values advance in lockstep under length masks
    through the 32-byte stripes, the 8-byte lanes, the 4-byte lane, the
    single bytes and the avalanche. uint64 arithmetic wraps, exactly as
    the C reference's does."""
    import numpy as np

    off_dtype = {
        "string": np.int32, "binary": np.int32,
        "large_string": np.int64, "large_binary": np.int64,
    }.get(str(arr.type))
    if off_dtype is None:
        raise TypeError(
            f"xxh64_array: string or binary array expected, got {arr.type}"
        )
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, dtype=off_dtype, count=arr.offset + n + 1)
    offs = offs[arr.offset:].astype(np.int64)
    base, stop = int(offs[0]), int(offs[-1])
    data = (
        np.frombuffer(dbuf, dtype=np.uint8)[base:stop]
        if dbuf is not None else np.empty(0, dtype=np.uint8)
    )
    pos = offs[:-1] - base  # each value's read cursor, advanced per lane
    lens = offs[1:] - offs[:-1]

    # the little-endian 8- and 4-byte word starting at EVERY byte offset,
    # as overlapping unaligned views (reads stay inside their value)
    def words(width: int, dtype: str) -> "np.ndarray":
        return np.ndarray(
            shape=(max(len(data) - width + 1, 0),), dtype=dtype,
            buffer=data, strides=(1,),
        )

    w64, w32 = words(8, "<u8"), words(4, "<u4")
    u = np.uint64
    p1, p2, p3, p4, p5 = u(_P64_1), u(_P64_2), u(_P64_3), u(_P64_4), u(_P64_5)

    def rotl(x, r: int):
        return (x << u(r)) | (x >> u(64 - r))

    def rnd(acc, inp):
        return rotl(acc + inp * p2, 31) * p1

    h = np.full(n, (seed + _P64_5) & _M64, dtype=np.uint64)
    big = np.nonzero(lens >= 32)[0]
    if big.size:
        # longest first, so the values still striping at step s are a
        # prefix of `order` and each step touches only those
        stripes = lens[big] // 32
        sort = np.argsort(-stripes, kind="stable")
        order, stripes = big[sort], stripes[sort]
        m = len(order)
        v1 = np.full(m, (seed + _P64_1 + _P64_2) & _M64, dtype=np.uint64)
        v2 = np.full(m, (seed + _P64_2) & _M64, dtype=np.uint64)
        v3 = np.full(m, seed & _M64, dtype=np.uint64)
        v4 = np.full(m, (seed - _P64_1) & _M64, dtype=np.uint64)
        cur = pos[order]
        neg = -stripes
        for s in range(int(stripes[0])):
            a = int(np.searchsorted(neg, -s, side="left"))
            q = cur[:a] + 32 * s
            v1[:a] = rnd(v1[:a], w64[q])
            v2[:a] = rnd(v2[:a], w64[q + 8])
            v3[:a] = rnd(v3[:a], w64[q + 16])
            v4[:a] = rnd(v4[:a], w64[q + 24])
        acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            acc = (acc ^ rnd(u(0), v)) * p1 + p4
        h[order] = acc
        pos[order] += 32 * stripes
    h += lens.astype(np.uint64)
    rest = lens % 32
    for _ in range(3):  # 8-byte lanes
        i = np.nonzero(rest >= 8)[0]
        if not i.size:
            break
        h[i] = rotl(h[i] ^ rnd(u(0), w64[pos[i]]), 27) * p1 + p4
        pos[i] += 8
        rest[i] -= 8
    i = np.nonzero(rest >= 4)[0]  # the 4-byte lane
    if i.size:
        h[i] = rotl(h[i] ^ (w32[pos[i]].astype(np.uint64) * p1), 23) * p2 + p3
        pos[i] += 4
        rest[i] -= 4
    for _ in range(3):  # single bytes
        i = np.nonzero(rest >= 1)[0]
        if not i.size:
            break
        h[i] = rotl(h[i] ^ (data[pos[i]].astype(np.uint64) * p5), 11) * p1
        pos[i] += 1
        rest[i] -= 1
    h ^= h >> u(33)
    h *= p2
    h ^= h >> u(29)
    h *= p3
    h ^= h >> u(32)
    return h


# ---------------------------------------------------------------------------
# LZ4 blocks and ZSTD frames
# ---------------------------------------------------------------------------


def _compress(codec: str, data: bytes, level: int, cap: int) -> bytes | None:
    """*data* as one LZ4 block or ZSTD frame of at most *cap* bytes, or
    None when it does not fit."""
    if cap <= 0:
        return None
    dst = _scratch(cap)
    if codec == "zstd":
        n = _ZSTD_compress(dst, cap, data, len(data), level)
        if _ZSTD_isError(n):
            return None
    else:
        n = (
            _LZ4_compress_default(data, dst, len(data), cap)
            if level <= 0
            else _LZ4_compress_HC(data, dst, len(data), cap, level)
        )
        if n <= 0:
            return None
    return ctypes.string_at(ctypes.addressof(dst), n)


def _decompress_into(codec: str, src, src_off: int, csize: int, dst,
                     dst_off: int, cap: int) -> int:
    """Decode ``src[src_off:src_off+csize]`` into at most *cap* bytes at
    ``dst[dst_off:]`` with no copy of either (dst must be writable);
    returns the decoded size. A codec error is a ValueError."""
    saddr, skeep = _addr_at(src, src_off)
    daddr, dkeep = _addr_at(dst, dst_off)
    if codec == "zstd":
        n = _ZSTD_decompress(daddr, cap, saddr, csize)
        err = _zstd_errname(n) if _ZSTD_isError(n) else None
    else:
        n = _LZ4_decompress_safe(saddr, daddr, csize, cap)
        err = f"rc={n}" if n < 0 else None
    del skeep, dkeep
    if err is not None:
        raise ValueError(f"corrupt {codec.upper()} block ({err})")
    return n


def decompress_at(codec: str, src, src_off: int, csize: int, dst,
                  dst_off: int, usize: int) -> None:
    """Zero-copy decode of the *codec* (``lz4``/``zstd``) block
    ``src[src_off:src_off+csize]`` into ``dst[dst_off:dst_off+usize]``
    (dst must be writable); any other decoded size is a ValueError."""
    n = _decompress_into(codec, src, src_off, csize, dst, dst_off, usize)
    if n != usize:
        raise ValueError(
            f"corrupt {codec.upper()} block: decoded {n} bytes, expected {usize}"
        )


def lz4_compress(data: bytes, level: int = 0) -> bytes | None:
    """Raw LZ4 block compress.

    Returns ``None`` when the payload cannot be shrunk by at least one
    byte — the caller then stores the block uncompressed, mirroring the
    reference's passthrough rule (``native/4mc.c:305-331``,
    ``FourMcOutputStream.java:204-215``).
    """
    return _compress("lz4", data, level, len(data) - 1)


def zstd_compress(data: bytes, level: int = 1) -> bytes | None:
    """ZSTD frame compress; ``None`` when not shrinkable (passthrough)."""
    return _compress("zstd", data, level, len(data) - 1)


def lz4_decompress(data: bytes, uncompressed_size: int) -> bytearray:
    out = bytearray(uncompressed_size)
    decompress_at("lz4", data, 0, len(data), out, 0, uncompressed_size)
    return out


def zstd_decompress(data: bytes, uncompressed_size: int) -> bytearray:
    out = bytearray(uncompressed_size)
    decompress_at("zstd", data, 0, len(data), out, 0, uncompressed_size)
    return out


# ---------------------------------------------------------------------------
# Raw one-shot codec calls for Hadoop BlockCompressorStream containers
# (reference Lz4Codec/ZstdCodec M/R intermediate files): unlike the 4mc
# block path there is NO passthrough rule — the stream stores whatever the
# compressor emits, so these always return output (worst case slightly
# larger than the input), and decompression trusts the frame/stream to
# yield AT MOST the caller's bound (the block's remaining original size).
# ---------------------------------------------------------------------------


def _compress_raw(codec: str, data: bytes, level: int, cap: int) -> bytes:
    out = _compress(codec, data, level, cap)
    if out is None:
        raise ValueError(f"{codec.upper()} compress failed")
    return out


def lz4_compress_raw(data: bytes, level: int = 0) -> bytes:
    """LZ4 block compress at full compressBound capacity (never None)."""
    return _compress_raw("lz4", data, level, len(data) + len(data) // 255 + 16)


def zstd_compress_raw(data: bytes, level: int = 1) -> bytes:
    return _compress_raw("zstd", data, level, len(data) + len(data) // 100 + 1024)


def _decompress_raw(codec: str, data: bytes, max_size: int) -> bytes:
    """Decode into a *max_size*-capacity buffer; returns the actual
    decoded bytes (may be fewer — multi-chunk Hadoop blocks)."""
    out = bytearray(max_size)
    n = _decompress_into(codec, data, 0, len(data), out, 0, max_size)
    return bytes(memoryview(out)[:n])


def lz4_decompress_raw(data: bytes, max_size: int) -> bytes:
    return _decompress_raw("lz4", data, max_size)


def zstd_decompress_raw(data: bytes, max_size: int) -> bytes:
    return _decompress_raw("zstd", data, max_size)


# ---------------------------------------------------------------------------
# Streaming ZSTD decode (standard .zst files, reference ZstCodec.java):
# frames from streaming writers carry no content size, so one-shot
# ZSTD_decompress cannot size its buffer — use the DStream API.
# ---------------------------------------------------------------------------

_ZSTD_D_WINDOWLOGMAX = 100  # enum ZSTD_d_windowLogMax (zstd.h)
_ZSTD_ERROR_WINDOW_TOO_LARGE = 16  # zstd_errors.h, stable enum
# Frames from `zstd --long=N` piped input declare the FULL long-mode
# window (content size unknown), and libzstd's default decode limit
# (2^27) rejects them as if corrupt — the stock CLI needs an explicit
# --long on decode too. A cluster reader shouldn't: accept up to
# 2^30 (1 GiB window, an executor-sized bound against tiny frames
# demanding huge windows) by default, env-overridable — but grant it
# LAZILY: streams start at libzstd's own 2^27 limit, and only a
# frame that actually declares a larger window escalates the cap
# (header replay), so benign multi-stream readers never authorize
# 1 GiB allocations up front (ADVICE r6).
_WINDOW_LOG_MAX = int(os.environ.get("FOURMC_ZSTD_WINDOW_LOG_MAX", 30))
_WINDOW_LOG_DEFAULT = 27  # libzstd's built-in decode limit


def _zstd_errname(rc) -> str:
    return _ZSTD_getErrorName(rc).decode("ascii", "replace")


def _mk_dstream(window_log_max: int):
    ds = _ZSTD_createDStream()
    if not ds:
        raise MemoryError("ZSTD_createDStream failed")
    rc = _ZSTD_DCtx_setParameter(ds, _ZSTD_D_WINDOWLOGMAX, window_log_max)
    if _ZSTD_isError(rc):
        # an out-of-range env override would otherwise silently leave
        # the library default (2^27) in place — the opposite of what
        # the knob promised
        _ZSTD_freeDStream(ds)
        raise ValueError(
            f"FOURMC_ZSTD_WINDOW_LOG_MAX={window_log_max} rejected by "
            "libzstd (valid range is 10..31)"
        )
    return ds


_max_validated: list = []  # last escalation target checked loudly


def zstd_stream_decompress_chunks(chunks) -> "Iterator[bytes]":
    """Decode an iterable of compressed byte chunks into decompressed
    chunks (handles multi-frame concatenation; O(chunk) memory)."""
    cap = min(_WINDOW_LOG_DEFAULT, _WINDOW_LOG_MAX)
    if (_WINDOW_LOG_MAX > _WINDOW_LOG_DEFAULT
            and _max_validated != [_WINDOW_LOG_MAX]):
        # validate the (possibly env-overridden) escalation target
        # loudly at first open, not on first long-window frame
        _ZSTD_freeDStream(_mk_dstream(_WINDOW_LOG_MAX))
        _max_validated[:] = [_WINDOW_LOG_MAX]
    ds = _mk_dstream(cap)
    # consumed prefix of the current frame, kept while it could
    # still be the (<= ~18 byte) header so a window-too-large
    # escalation can replay it into a fresh context
    hdr = bytearray()
    try:
        out_cap = 1 << 20
        out_raw = ctypes.create_string_buffer(out_cap)
        for chunk in chunks:
            if not chunk:
                continue
            src = ctypes.create_string_buffer(chunk, len(chunk))
            inb = _ZstdBuffer(ctypes.cast(src, ctypes.c_void_p), len(chunk), 0)
            while inb.pos < inb.size:
                prev = inb.pos
                outb = _ZstdBuffer(
                    ctypes.cast(out_raw, ctypes.c_void_p), out_cap, 0
                )
                rc = _ZSTD_decompressStream(
                    ds, ctypes.byref(outb), ctypes.byref(inb)
                )
                if _ZSTD_isError(rc):
                    if (cap < _WINDOW_LOG_MAX and _ZSTD_getErrorCode(rc)
                            == _ZSTD_ERROR_WINDOW_TOO_LARGE):
                        # this frame really declares a long window:
                        # escalate for THIS stream and replay the
                        # frame header into a fresh context
                        _ZSTD_freeDStream(ds)
                        ds = None
                        cap = _WINDOW_LOG_MAX
                        ds = _mk_dstream(cap)
                        chunk = bytes(hdr) + chunk[prev:]
                        hdr.clear()
                        src = ctypes.create_string_buffer(chunk, len(chunk))
                        inb = _ZstdBuffer(
                            ctypes.cast(src, ctypes.c_void_p), len(chunk), 0,
                        )
                        continue
                    raise ValueError(
                        "corrupt .zst stream (%s)" % _zstd_errname(rc))
                if inb.pos > prev and len(hdr) < 64:
                    # keep only a header-sized prefix: escalation can
                    # fire only while consumption is still inside the
                    # <= ~18-byte frame header, so bytes past 64 can
                    # never need replay (and an untruncated append
                    # would pin up to a whole chunk per frame)
                    hdr += chunk[prev:inb.pos][:64 - len(hdr)]
                if rc == 0:  # frame fully decoded: next bytes = header
                    hdr.clear()
                if outb.pos:
                    yield out_raw.raw[: outb.pos]
    finally:
        if ds is not None:
            _ZSTD_freeDStream(ds)


# ---------------------------------------------------------------------------
# Streaming ZSTD encode (standard .zst sink, reference ZstCodec.java:47-169 +
# ZstdStreamCompressor.java:41-331): one frame for the whole stream, bounded
# buffers, level clamped like the reference (invalid conf level -> 3,
# ZstCodec.java:118-122).
# ---------------------------------------------------------------------------


class ZstdStreamCompressor:
    """Incremental single-frame zstd encoder (CStream API).

    ``compress(data)`` returns whatever compressed bytes are ready
    (possibly empty — zstd buffers internally); ``finish()`` flushes
    the epilogue. O(buffer) memory for streams of any length.
    """

    def __init__(self, level: int = 1) -> None:
        self._cs = _ZSTD_createCStream()
        if not self._cs:
            raise MemoryError("ZSTD_createCStream failed")
        rc = _ZSTD_initCStream(self._cs, int(level))
        if _ZSTD_isError(rc):
            raise ValueError(f"bad zstd level {level}")
        self._out_cap = 1 << 19  # 512 KiB output granule
        self._out_raw = ctypes.create_string_buffer(self._out_cap)
        self._done = False

    def _out(self) -> _ZstdBuffer:
        return _ZstdBuffer(
            ctypes.cast(self._out_raw, ctypes.c_void_p), self._out_cap, 0
        )

    def compress(self, data: bytes) -> bytes:
        if self._done:
            raise ValueError("compressor finished")
        if not data:
            return b""
        src = ctypes.create_string_buffer(data, len(data))
        inb = _ZstdBuffer(ctypes.cast(src, ctypes.c_void_p), len(data), 0)
        parts = []
        while inb.pos < inb.size:
            outb = self._out()
            rc = _ZSTD_compressStream(self._cs, ctypes.byref(outb), ctypes.byref(inb))
            if _ZSTD_isError(rc):
                raise ValueError("zstd stream compress failed")
            if outb.pos:
                parts.append(self._out_raw.raw[: outb.pos])
        return b"".join(parts)

    def finish(self) -> bytes:
        if self._done:
            return b""
        parts = []
        while True:
            outb = self._out()
            rc = _ZSTD_endStream(self._cs, ctypes.byref(outb))
            if _ZSTD_isError(rc):
                raise ValueError("zstd stream finish failed")
            if outb.pos:
                parts.append(self._out_raw.raw[: outb.pos])
            if rc == 0:
                break
        self._done = True
        _ZSTD_freeCStream(self._cs)
        self._cs = None
        return b"".join(parts)
