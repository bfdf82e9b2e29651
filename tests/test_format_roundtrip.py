"""Format core tests: xxh32 cross-check, golden header/footer layout,
round-trips at all 8 codec/level combos, passthrough, split-invariance,
and corruption detection (FIXTURES.md F2/F3/F5)."""

import io
import os
import random
import struct
import subprocess
import sys
import textwrap

import pytest

from fourmc_spark.format import core, native, reader, writer

RNG = random.Random(42)


# ---------------------------------------------------------------------------
# xxh32
# ---------------------------------------------------------------------------

def test_xxh32_known_vectors():
    # Published XXH32 test vectors (xxHash reference implementation).
    assert native.xxh32(b"", 0) == 0x02CC5D05
    assert native.xxh32(b"Hello World") == 0xB1FD16EE


@pytest.mark.parametrize("n", [0, 1, 3, 4, 15, 16, 17, 100, 4096])
def test_xxh32_pure_python_matches_native(n):
    data = bytes(RNG.getrandbits(8) for _ in range(n))
    for seed in (0, 1, 0xDEADBEEF):
        assert native.xxh32_py(data, seed) == native.xxh32(data, seed)


# A script that imports the codec module while ctypes refuses to load
# one shared library (argv[1]); it prints the import's outcome.
_REFUSE_LIB = textwrap.dedent("""
    import ctypes, sys
    lib, real = sys.argv[1], ctypes.CDLL
    def refuse(name, *args, **kwargs):
        if str(name).startswith(lib):
            raise OSError(f"{name}: cannot open shared object file")
        return real(name, *args, **kwargs)
    ctypes.CDLL = refuse
    try:
        import fourmc_spark.format.native
    except ImportError as e:
        print(f"ImportError: {e}")
    else:
        print("imported")
""")


@pytest.mark.parametrize("lib", ["liblz4", "libzstd", "libxxhash"])
def test_missing_codec_library_fails_import(lib):
    # the codecs have no fallback: without one of the three libraries
    # the import fails and names it
    r = subprocess.run(
        [sys.executable, "-c", _REFUSE_LIB, lib],
        capture_output=True, text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("ImportError: ") and lib in r.stdout, r.stdout


# ---------------------------------------------------------------------------
# golden layout
# ---------------------------------------------------------------------------

def test_header_golden_bytes():
    h = core.encode_header(core.MAGIC_4MC)
    assert h[:4] == b"4MC\x00"
    assert struct.unpack(">I", h[4:8])[0] == 1
    assert struct.unpack(">I", h[8:12])[0] == native.xxh32(h[:8])
    hz = core.encode_header(core.MAGIC_4MZ)
    assert hz[:4] == b"4MZ\x00"


def test_footer_layout_and_delta_encoding():
    offsets = [12, 1000, 5000]
    f = core.encode_footer(core.MAGIC_4MC, offsets)
    size = struct.unpack(">I", f[0:4])[0]
    assert size == 20 + 4 * 3 == len(f)
    assert struct.unpack(">I", f[4:8])[0] == 1
    deltas = struct.unpack(">III", f[8:20])
    assert list(deltas) == [12, 988, 4000]
    assert struct.unpack(">I", f[20:24])[0] == size
    assert f[24:28] == b"4MC\x00"
    assert struct.unpack(">I", f[28:32])[0] == native.xxh32(f[:-4])
    assert core.decode_footer(f, core.MAGIC_4MC, 10_000) == offsets


def _roundtrip(data: bytes, codec: str, level: str, block_size=256 * 1024) -> bytes:
    buf = io.BytesIO()
    with writer.FourMcWriter(buf, codec=codec, level=level, block_size=block_size) as w:
        w.write(data)
    raw = buf.getvalue()
    # parse with the streaming reader
    f = io.BytesIO(raw)
    magic, idx = reader.read_index(f, len(raw))
    assert core.codec_for_magic(magic) == codec
    out = bytearray()
    offs = []
    for off, chunk in reader.iter_block_payloads(f, codec):
        out.extend(chunk)
        offs.append(off)
    assert offs == idx.offsets
    return bytes(out)


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
@pytest.mark.parametrize("level", ["fast", "medium", "high", "ultra"])
def test_roundtrip_all_levels(codec, level):
    data = (b"the quick brown fox jumps over the lazy dog 0123456789\n" * 20000)
    assert _roundtrip(data, codec, level) == data


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_roundtrip_incompressible_passthrough(codec):
    data = bytes(RNG.getrandbits(8) for _ in range(300_000))
    buf = io.BytesIO()
    with writer.FourMcWriter(buf, codec=codec, level="fast", block_size=64 * 1024) as w:
        w.write(data)
    raw = buf.getvalue()
    # at least one block must be stored raw (compressedSize == uncompressedSize)
    f = io.BytesIO(raw)
    magic, idx = reader.read_index(f, len(raw))
    saw_raw = False
    for off in idx.offsets:
        f.seek(off)
        usize, csize, _ = struct.unpack(">III", f.read(12))
        if usize == csize:
            saw_raw = True
    assert saw_raw
    assert _roundtrip(data, codec, "fast", block_size=64 * 1024) == data


@pytest.mark.parametrize(
    "size",
    [0, 1, 4 * 1024 * 1024, 4 * 1024 * 1024 + 1],
    ids=["empty", "one-byte", "exact-4MiB", "4MiB-plus-1"],
)
def test_roundtrip_boundary_sizes(size):
    data = bytes((i * 7) & 0xFF for i in range(size))
    assert _roundtrip(data, "lz4", "fast", block_size=core.MAX_BLOCK_SIZE) == data


def test_empty_file_has_empty_index():
    buf = io.BytesIO()
    with writer.FourMcWriter(buf, codec="lz4") as w:
        pass
    raw = buf.getvalue()
    f = io.BytesIO(raw)
    magic, idx = reader.read_index(f, len(raw))
    assert idx.is_empty()
    assert list(reader.iter_block_payloads(f, "lz4")) == []


# ---------------------------------------------------------------------------
# split invariance (the property S5 line-resync exists to guarantee)
# ---------------------------------------------------------------------------

def _make_lines_blob(n_lines=5000, seed=7):
    rng = random.Random(seed)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", ""]
    lines = []
    for i in range(n_lines):
        k = rng.randint(0, 12)
        lines.append((" ".join(rng.choice(words) for _ in range(k)) + f" #{i}").encode())
    lines.append(b"x" * 70000)  # one line far larger than the block size
    lines.append(b"tail-without-newline")
    return b"\n".join(lines)


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
@pytest.mark.parametrize("n_splits", [1, 2, 3, 7])
def test_split_invariance(tmp_path, codec, n_splits):
    data = _make_lines_blob()
    path = str(tmp_path / f"lines.{codec}.4m")
    writer.write_file(path, data, codec=codec, block_size=16 * 1024)
    codec_r, fsize, offsets = reader.scan_file_info(path)
    assert codec_r == codec
    idx = core.BlockIndex(offsets)
    expected = data.split(b"\n")

    # plan n_splits byte-range splits, align to blocks like FourMcInputFormat
    raw_splits = []
    step = (fsize + n_splits - 1) // n_splits
    for s in range(0, fsize, step):
        raw_splits.append((s, min(s + step, fsize)))
    got = []
    for (s, e) in raw_splits:
        astart = idx.align_slice_start(s, e)
        if astart == core.NOT_FOUND:
            continue
        aend = idx.align_slice_end(e, fsize)
        with open(path, "rb") as f:
            got.extend(
                ln for _, ln in reader.iter_lines_for_split(f, codec, astart, aend)
            )
    assert len(got) == len(expected)
    assert got == expected


# ---------------------------------------------------------------------------
# corruption detection (FIXTURES.md F5)
# ---------------------------------------------------------------------------

def _make_valid(codec="lz4"):
    data = b"hello fourmc world\n" * 3000
    buf = io.BytesIO()
    with writer.FourMcWriter(buf, codec=codec, block_size=8192) as w:
        w.write(data)
    return bytearray(buf.getvalue())


def _flip(raw: bytearray, i: int) -> bytes:
    out = bytearray(raw)
    out[i] ^= 0xFF
    return bytes(out)


def test_corrupt_header_magic():
    raw = _flip(_make_valid(), 1)
    with pytest.raises(core.BadHeaderError):
        reader.read_index(io.BytesIO(raw), len(raw))


def test_corrupt_header_checksum():
    raw = _flip(_make_valid(), 9)
    with pytest.raises(core.BadHeaderError):
        reader.read_index(io.BytesIO(raw), len(raw))


def test_corrupt_block_payload():
    raw = _make_valid()
    raw2 = _flip(raw, 12 + 12 + 5)  # inside first block payload
    f = io.BytesIO(raw2)
    reader.read_index(f, len(raw2))
    with pytest.raises(core.BadBlockError):
        list(reader.iter_block_payloads(f, "lz4"))


def test_corrupt_footer_checksum():
    raw = _make_valid()
    raw2 = _flip(raw, len(raw) - 2)
    with pytest.raises(core.BadFooterError):
        reader.read_index(io.BytesIO(raw2), len(raw2))


def test_truncated_footer():
    raw = bytes(_make_valid())[:-6]
    with pytest.raises(core.BadFooterError):
        reader.read_index(io.BytesIO(raw), len(raw))


def test_batch_reader_equals_row_reader(tmp_path):
    """iter_line_batches_for_split must yield EXACTLY what
    iter_lines_for_split yields — same lines, same owners — for every
    split point, on data with CRLF, empty lines, multi-block carry."""
    import random

    from fourmc_spark.format.reader import (
        iter_line_batches_for_split,
        iter_lines_for_split,
        scan_file_info,
    )
    from fourmc_spark.format.writer import write_file

    rng = random.Random(7)
    pieces = []
    for i in range(4000):
        r = rng.random()
        if r < 0.05:
            pieces.append("")                      # empty line
        elif r < 0.10:
            pieces.append(f"crlf{i}\r")            # CRLF line
        else:
            pieces.append(f"line{i}-" + "x" * rng.randrange(0, 120))
    data = ("\n".join(pieces) + ("\n" if rng.random() < 0.5 else "")).encode()
    path = str(tmp_path / "eq.4mz")
    write_file(path, data, codec="zstd", level="fast", block_size=2048)
    codec, fsize, offsets = scan_file_info(path)

    cuts = sorted(rng.sample(offsets, min(9, len(offsets)))) + [fsize]
    bounds = [12] + cuts
    for s, e in zip(bounds, bounds[1:]):
        with open(path, "rb") as f:
            rows = list(iter_lines_for_split(f, codec, s, e))
        with open(path, "rb") as f:
            batches = list(iter_line_batches_for_split(f, codec, s, e))
        flat = [
            (int(o), bytes(v.as_py()))
            for offs, lines in batches
            for o, v in zip(offs, lines)
        ]
        assert flat == rows, f"split [{s},{e}) diverged"
    # whole-file check: union of the whole file in one split
    with open(path, "rb") as f:
        whole = [
            v.as_py()
            for _, lines in iter_line_batches_for_split(f, codec, 12, fsize)
            for v in lines
        ]
    assert whole == [p.rstrip("\r").encode() for p in pieces]


# --- LF / CRLF / bare-CR terminator semantics (Hadoop LineReader rule,
# --- FourMcTextInputFormat.java:42-46) ------------------------------------

def _lines_of(path, codec, start=None, end=None):
    from fourmc_spark.format import iter_lines_for_split, scan_file_info

    c, size, _ = scan_file_info(path)
    with open(path, "rb") as f:
        return list(iter_lines_for_split(f, c, start or 0, end or size))


def _batch_lines_of(path, start=None, end=None):
    from fourmc_spark.format import scan_file_info
    from fourmc_spark.format.reader import iter_line_batches_for_split

    c, size, _ = scan_file_info(path)
    out = []
    with open(path, "rb") as f:
        for offs, arr in iter_line_batches_for_split(f, c, start or 0, end or size):
            out.extend((int(o), v.as_py()) for o, v in zip(offs, arr))
    return out


def test_cr_and_crlf_terminators(tmp_path):
    from fourmc_spark.format import write_file

    p = str(tmp_path / "cr.4mc")
    data = b"a\nb\r\nc\rd\r\r\ne"  # LF, CRLF, bare CR, CR then CRLF, EOF tail
    write_file(p, data, codec="lz4")
    want = [b"a", b"b", b"c", b"d", b"", b"e"]
    assert [ln for _, ln in _lines_of(p, "lz4")] == want
    assert [ln for _, ln in _batch_lines_of(p)] == want


def test_terminator_straddles_block_boundary(tmp_path):
    from fourmc_spark.format import scan_file_info, write_file

    # block_size 4: "ab\r" | "\ncd\r" | "ef..." — CRLF split across blocks
    # 1/2, bare CR at the end of block 2
    p = str(tmp_path / "straddle.4mc")
    data = b"ab\r\ncd\ref\nzz"
    write_file(p, data, codec="lz4", block_size=4)
    want = [b"ab", b"cd", b"ef", b"zz"]
    assert [ln for _, ln in _lines_of(p, "lz4")] == want
    assert [ln for _, ln in _batch_lines_of(p)] == want

    # split-pair agreement at every block boundary: union of the two
    # halves == whole, no duplicates, no losses
    _, size, offsets = scan_file_info(p)
    for cut in offsets[1:]:
        left = _lines_of(p, "lz4", 0, cut)
        right = _lines_of(p, "lz4", cut, size)
        assert [ln for _, ln in left + right] == want, (cut, left, right)
        bl = _batch_lines_of(p, 0, cut)
        br = _batch_lines_of(p, cut, size)
        assert [ln for _, ln in bl + br] == want, (cut, bl, br)


def test_zst_cr_offsets_exact(tmp_path):
    import pyarrow as pa

    from fourmc_spark.format.reader import iter_line_batches

    p = str(tmp_path / "cr.zst")
    data = b"aa\r\nbb\rcc\ndd"
    with open(p, "wb") as f:
        f.write(pa.Codec("zstd", 1).compress(data).to_pybytes())
    with open(p, "rb") as f:
        got = [(int(o), v.as_py())
               for offs, lines in iter_line_batches(f, "zst", 0, len(data))
               for o, v in zip(offs, lines)]
    # offsets are true decompressed positions of each line start
    assert got == [(0, b"aa"), (4, b"bb"), (7, b"cc"), (10, b"dd")]
