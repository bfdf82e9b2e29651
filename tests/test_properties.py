"""Hypothesis property tests for the format core (SURVEY.md §5 plan item 2:
randomized round-trips beyond the fixed vectors — the reference's
TestFourMcCodec.java:27-111 does 100k random KV records; hypothesis
shrinks failures to minimal counterexamples instead).
"""

import io
import os
import re

from hypothesis import example, given, settings, strategies as st

from fourmc_spark.format import FourMcWriter, compress_bytes, decompress_file
from fourmc_spark.format.writer import ZstWriter


def _decompress_bytes(blob: bytes, tmp_path, name="blob.4mc") -> bytes:
    p = str(tmp_path / name)
    with open(p, "wb") as f:
        f.write(blob)
    try:
        return decompress_file(p)
    finally:
        os.remove(p)


@settings(max_examples=30, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=200_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    block_size=st.integers(min_value=1, max_value=70_000),
)
def test_roundtrip_arbitrary_bytes_and_block_sizes(
    tmp_path_factory, data, codec, block_size
):
    d = tmp_path_factory.mktemp("prop_rt")
    blob = compress_bytes(data, codec=codec, level="fast", block_size=block_size)
    assert _decompress_bytes(blob, d) == data


@settings(max_examples=20, deadline=None)
@given(
    chunks=st.lists(st.binary(min_size=0, max_size=30_000), max_size=12),
    codec=st.sampled_from(["lz4", "zstd"]),
)
def test_chunked_writes_equal_one_shot(tmp_path_factory, chunks, codec):
    # framing must not depend on write() call boundaries (the reference
    # buffers to the block granule regardless of caller chunking,
    # FourMcOutputStream.java:140-182)
    whole = b"".join(chunks)
    one = compress_bytes(whole, codec=codec, level="fast", block_size=4096)
    buf = io.BytesIO()
    with FourMcWriter(buf, codec=codec, level="fast", block_size=4096) as w:
        for c in chunks:
            w.write(c)
    assert buf.getvalue() == one
    d = tmp_path_factory.mktemp("prop_ck")
    assert _decompress_bytes(buf.getvalue(), d) == whole


@settings(max_examples=20, deadline=None)
@given(chunks=st.lists(st.binary(min_size=0, max_size=50_000), max_size=10))
def test_zst_stream_chunking_invariant(chunks):
    from fourmc_spark.format.native import zstd_stream_decompress_chunks

    whole = b"".join(chunks)
    buf = io.BytesIO()
    with ZstWriter(buf, level=1) as w:
        for c in chunks:
            w.write(c)
    out = buf.getvalue()
    assert b"".join(zstd_stream_decompress_chunks([out])) == whole


@settings(max_examples=15, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters="\r\n",
                                   blacklist_categories=("Cs",)),
            max_size=300,
        ),
        max_size=50,
    ),
    codec=st.sampled_from(["lz4", "zstd"]),
)
def test_line_roundtrip_via_split_reader(tmp_path_factory, lines, codec):
    from fourmc_spark.format import iter_lines_for_split

    d = tmp_path_factory.mktemp("prop_ln")
    ext = ".4mc" if codec == "lz4" else ".4mz"
    p = str(d / f"lines{ext}")
    with open(p, "wb") as f:
        with FourMcWriter(f, codec=codec, level="fast", block_size=8192) as w:
            for ln in lines:
                w.write_line(ln)
    size = os.path.getsize(p)
    with open(p, "rb") as f:
        got = [ln.decode("utf-8")
               for _, ln in iter_lines_for_split(f, codec, 0, size)]
    assert got == lines


# a line is its bytes up to LF, CRLF or bare CR, or an unterminated tail
_LINE_RE = re.compile(rb"([^\r\n]*)(?:\r\n|\r|\n)|([^\r\n]+)\Z")


def _flat(batches):
    return [(int(o), v.as_py()) for offs, lines in batches
            for o, v in zip(offs, lines)]


@settings(max_examples=300, deadline=None)
@given(
    data=st.lists(st.sampled_from(b"ab\r\n"), max_size=80).map(bytes),
    cuts=st.lists(st.integers(0, 80), max_size=8),
    block_size=st.integers(1, 16),
)
@example(data=b"a\r\nb\r", cuts=[2], block_size=2)   # CRLF split, CR at EOF
@example(data=b"ab\r\r\n\nb", cuts=[3, 3], block_size=3)  # CR at chunk edge
@example(data=b"\n\na\n", cuts=[], block_size=1)     # empty lines, trailing LF
def test_stream_line_batches_match_regex_oracle(
    tmp_path_factory, data, cuts, block_size
):
    """Stream-codec line batches equal a regex over the decompressed
    bytes, offset = the line's first byte, for any chunking (empty chunks
    included) and for multi-block Hadoop containers; the lines equal the
    scalar 4mc oracle's for the same bytes."""
    from fourmc_spark.format.hadoop_stream import write_hadoop_file
    from fourmc_spark.format.reader import (
        iter_line_batches,
        iter_lines_for_split,
        iter_stream_line_batches,
    )

    want = [(m.start(), m.group(1) if m.group(2) is None else m.group(2))
            for m in _LINE_RE.finditer(data)]
    bounds = [0] + sorted(min(c, len(data)) for c in cuts) + [len(data)]
    chunks = [data[a:b] for a, b in zip(bounds, bounds[1:])]
    assert _flat(iter_stream_line_batches(iter(chunks))) == want

    p = str(tmp_path_factory.mktemp("lines") / "h.lz4_fast")
    write_hadoop_file(p, data, "lz4", block_size=block_size)
    with open(p, "rb") as f:
        assert _flat(iter_line_batches(f, "hadoop-lz4", 0, 0)) == want

    blob = compress_bytes(data, codec="lz4", block_size=block_size)
    oracle = list(iter_lines_for_split(io.BytesIO(blob), "lz4", 0, len(blob)))
    assert [ln for _, ln in oracle] == [ln for _, ln in want]
    assert _flat(iter_line_batches(io.BytesIO(blob), "lz4", 0, len(blob))) == oracle


@settings(max_examples=40, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=30_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    pos_seed=st.integers(min_value=0, max_value=10**9),
    delta=st.integers(min_value=1, max_value=255),
)
def test_any_single_byte_flip_is_detected(
    tmp_path_factory, data, codec, pos_seed, delta
):
    """Every byte of the container is covered by a check: header checksum,
    per-block xxh32, footer checksum, EOS marker, or the block-header vs
    footer-extent cross-check — so ANY single-byte corruption must raise
    (mirrors FourMcInputStream.java:143-151,200-228,320-326)."""
    import pytest

    from fourmc_spark.format.core import FourMcFormatError

    blob = bytearray(compress_bytes(data, codec=codec, block_size=8192))
    pos = pos_seed % len(blob)
    blob[pos] = blob[pos] ^ delta
    tmp = tmp_path_factory.mktemp("flip")
    with pytest.raises(FourMcFormatError):
        _decompress_bytes(bytes(blob), tmp)


@settings(max_examples=30, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=30_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    cut_seed=st.integers(min_value=0, max_value=10**9),
)
def test_any_truncation_is_detected(tmp_path_factory, data, codec, cut_seed):
    """A prefix of a sealed file is never silently accepted — the footer
    (and its tail checksum) live at EOF."""
    import pytest

    from fourmc_spark.format.core import FourMcFormatError

    blob = compress_bytes(data, codec=codec, block_size=8192)
    cut = cut_seed % (len(blob) - 1)  # strictly shorter, possibly empty
    tmp = tmp_path_factory.mktemp("trunc")
    with pytest.raises(FourMcFormatError):
        _decompress_bytes(blob[:cut], tmp)


# ---------------------------------------------------------------- round 2
# Property coverage for the round-2 decoders: imaging (PPM/PGM/BMP),
# av (WAV/Y4M), and the Hadoop block-codec container.

import numpy as np
from hypothesis import HealthCheck
from hypothesis.extra.numpy import arrays as np_arrays


@settings(max_examples=30, deadline=None)
@given(
    arr=np_arrays(
        dtype=np.uint8,
        shape=st.tuples(
            st.integers(1, 24), st.integers(1, 24), st.just(3)
        ),
    ),
    fmt=st.sampled_from(["ppm", "bmp"]),
)
def test_image_roundtrip_arbitrary_pixels(arr, fmt):
    from fourmc_spark.operators import imaging

    enc = imaging.encode_ppm(arr) if fmt == "ppm" else imaging.encode_bmp(arr)
    assert np.array_equal(imaging.decode_image(enc), arr)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.integers(1, 4),
    rate=st.integers(1, 192_000),
    seed=st.integers(0, 2**31),
)
def test_wav_roundtrip_arbitrary_audio(n, ch, rate, seed):
    from fourmc_spark.operators import av

    rng = np.random.default_rng(seed)
    a = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
    back, r = av.decode_wav(av.encode_wav(a, rate))
    assert r == rate and np.array_equal(back, a)


@settings(max_examples=25, deadline=None)
@given(
    w2=st.integers(1, 16),
    h2=st.integers(1, 12),
    nf=st.integers(1, 6),
    seed=st.integers(0, 2**31),
)
def test_y4m_roundtrip_arbitrary_frames(w2, h2, nf, seed):
    from fourmc_spark.operators import av

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h2 * 2, w2 * 2)).astype(np.uint8)
        for _ in range(nf)
    ]
    got = list(av.iter_y4m_frames(av.encode_y4m(frames)))
    assert len(got) == nf
    for (idx, luma), want in zip(got, frames):
        assert np.array_equal(luma, want)


@settings(max_examples=25, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=120_000),
    ext=st.sampled_from(
        ["lz4_fast", "lz4_hc", "zstd_fast", "zstd_mc", "zstd_uc"]
    ),
    block=st.integers(1, 50_000),
)
def test_hadoop_container_roundtrip_arbitrary_bytes(
    tmp_path_factory, data, ext, block
):
    from fourmc_spark.format.hadoop_stream import (
        HADOOP_EXTS, read_hadoop_file, write_hadoop_file,
    )

    codec, level = HADOOP_EXTS[ext]
    d = tmp_path_factory.mktemp("prop_hadoop")
    p = str(d / f"x.{ext}")
    write_hadoop_file(p, data, codec, level, block_size=block)
    assert read_hadoop_file(p) == data


# NOTE: no corruption property for the Hadoop container — unlike 4mc it
# carries no checksums, and a bit flip in e.g. a zstd frame-header window
# byte can legally decode to identical bytes; integrity there is the
# transport's job (the reference makes the same trade for intermediate
# data). 4mc corruption properties above stay strict.


@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        min_size=1,
        max_size=20,
    ),
    lo=st.one_of(st.none(), st.integers(-(10**12), 10**12)),
    lo_inc=st.booleans(),
    hi=st.one_of(st.none(), st.integers(-(10**12), 10**12)),
    hi_inc=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_zone_range_exclusion_is_sound(vals, lo, lo_inc, hi, hi_inc):
    """_range_excluded may only say True when NO value in the span can
    satisfy the bound conjunction — a false exclusion is silent row
    loss, the one failure the zone tier must never have."""
    from fourmc_spark.sources.datasource import _range_excluded

    mn, mx = min(vals), max(vals)
    bound = (lo, lo_inc, hi, hi_inc)

    def matches(v):
        if lo is not None and (v < lo or (v == lo and not lo_inc)):
            return False
        if hi is not None and (v > hi or (v == hi and not hi_inc)):
            return False
        return True

    if _range_excluded(mn, mx, bound):
        assert not any(matches(v) for v in vals)


@given(
    sets=st.lists(
        st.lists(st.integers(0, 10**6), min_size=0, max_size=15),
        min_size=2,
        max_size=4,
    ),
)
@settings(max_examples=200, deadline=None)
def test_bloom_carry_or_merge_preserves_membership(sets):
    """Compaction's bloom carry is the bitwise OR of the input bitmaps:
    every value sealed into ANY input must still probe as present in
    the merged output (a lost bit would silently drop rows after
    compaction)."""
    import base64

    from fourmc_spark.format.native import xxh64
    from fourmc_spark.operators.maintenance import _merge_carried_blooms
    from fourmc_spark.sources.datasource import (
        BLOOM_SEED, _bloom_probes, _sidecar_dropped, bloom_positions,
        seal_bloom_spec,
    )

    bits, k = 1 << 10, 3
    metas = []
    for vals in sets:
        bm = bytearray(bits // 8)
        for v in vals:
            h = xxh64(str(v).encode(), BLOOM_SEED)
            for p in bloom_positions(h, k, bits):
                bm[p >> 3] |= 1 << (p & 7)
        metas.append(
            {"bloom": {"c": seal_bloom_spec(bytes(bm), bits, k, "int")}}
        )
    merged = _merge_carried_blooms(metas)
    meta = {"bloom": merged}
    for vals in sets:
        for v in vals:
            probes = _bloom_probes({"c": {v}}, {"c": "int"})
            assert _sidecar_dropped(meta, {}, {}, probes) is not None


@given(v=st.text(min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_next_prefix_is_exclusive_upper_bound(v):
    """next_prefix(v), when it exists, is strictly greater than every
    string that starts with v — the soundness of the StartsWith zone
    relaxation (a too-small bound would prune matching files)."""
    from fourmc_spark.sources.datasource import _next_prefix

    hi = _next_prefix(v)
    if hi is None:
        return
    for suffix in ("", "a", "\x00", "\U0010ffff" * 2, v):
        assert v + suffix < hi
    assert v < hi


_PT_INT = st.one_of(st.none(), st.integers(-6, 6))
_PT_STR = st.one_of(st.none(), st.text("abc", max_size=3))


def _pt_bound(vals):
    side = st.one_of(st.none(), vals)
    return st.tuples(side, st.booleans(), side, st.booleans()).map(list)


@given(
    rows=st.lists(st.tuples(_PT_INT, _PT_STR), max_size=12),
    zone_a=st.one_of(st.none(), _pt_bound(st.integers(-6, 6))),
    zone_b=st.one_of(st.none(), _pt_bound(st.text("abc", max_size=3))),
    null_a=st.sets(st.sampled_from(["null", "notnull"])),
    null_b=st.sets(st.sampled_from(["null", "notnull"])),
    pts_a=st.one_of(st.none(), st.sets(st.integers(-6, 6), max_size=3)),
    pts_b=st.one_of(
        st.none(), st.sets(st.text("abc", max_size=3), max_size=3)
    ),
    bits=st.sampled_from([64, 128, 1024]),
    k=st.integers(1, 4),
)
@settings(max_examples=300, deadline=None)
def test_sidecar_tiers_agree_and_exclusion_is_sound(
    rows, zone_a, zone_b, null_a, null_b, pts_a, pts_b, bits, k
):
    """A sidecar whose file summary and single block summary describe
    the same values gets the same decision at both tiers, under any
    mix of zone bounds, null-ness requirements and bloom point sets —
    and an exclusion means no row satisfies the conjunction (a false
    exclusion is silent row loss)."""
    import base64

    from fourmc_spark.format.native import xxh64
    from fourmc_spark.sources.datasource import (
        BLOOM_SEED, _bloom_probes, _excluded, _sidecar_dropped,
        _summaries, bloom_positions, seal_bloom_blocks_header,
        seal_bloom_spec,
    )

    fams = {"a": "int", "b": "str"}
    cols = {"a": [r[0] for r in rows], "b": [r[1] for r in rows]}
    columns, block_stats, blooms, block_blooms = {}, {}, {}, {}
    for col, vals in cols.items():
        present = [v for v in vals if v is not None]
        mn = min(present) if present else None
        mx = max(present) if present else None
        nulls = len(vals) - len(present)
        columns[col] = {"min": mn, "max": mx, "nulls": nulls}
        block_stats[col] = [mn, mx, nulls]
        bm = bytearray(bits // 8)
        for v in present:
            h = xxh64(str(v).encode("utf-8"), BLOOM_SEED)
            for p in bloom_positions(h, k, bits):
                bm[p >> 3] |= 1 << (p & 7)
        blooms[col] = seal_bloom_spec(bytes(bm), bits, k, fams[col])
        block_blooms[col] = base64.b64encode(bytes(bm)).decode("ascii")
    meta = {
        "columns": columns,
        "blocks": [{"o": 4, "c": block_stats}],
        "bloom": blooms,
        "bloom_blocks": seal_bloom_blocks_header(
            bits, k, fams, [{"o": 4, "c": block_blooms}]
        ),
    }
    zone = {c: z for c, z in (("a", zone_a), ("b", zone_b)) if z}
    nullreq = {c: r for c, r in (("a", null_a), ("b", null_b)) if r}
    points = {c: p for c, p in (("a", pts_a), ("b", pts_b)) if p is not None}
    probes = _bloom_probes(points, fams)

    (_, whole), (off, block) = _summaries(meta, ["a", "b"], probes)
    assert off == 4
    file_out = _excluded(whole, zone, nullreq, probes)
    assert file_out == _excluded(block, zone, nullreq, probes)
    dropped = _sidecar_dropped(meta, zone, nullreq, probes)
    assert (dropped is None) == file_out and dropped in (None, frozenset())

    def satisfies(row):
        for col, v in zip(("a", "b"), row):
            if col in zone:
                lo, lo_inc, hi, hi_inc = zone[col]
                if v is None and (lo is not None or hi is not None):
                    return False
                if lo is not None and (v < lo or (v == lo and not lo_inc)):
                    return False
                if hi is not None and (v > hi or (v == hi and not hi_inc)):
                    return False
            req = nullreq.get(col, ())
            if ("null" in req and v is not None) or (
                "notnull" in req and v is None
            ):
                return False
            if col in points and v not in points[col]:
                return False
        return True

    if file_out:
        assert not any(satisfies(r) for r in rows)


@given(
    values=st.lists(st.binary(max_size=150), max_size=40),
    cut=st.tuples(st.integers(0, 40), st.integers(0, 40)),
    seed=st.one_of(
        st.sampled_from([0, 42, (1 << 64) - 1]), st.integers(0, (1 << 64) - 1)
    ),
)
@settings(max_examples=200, deadline=None)
def test_xxh64_array_matches_libxxhash(values, cut, seed):
    """The numpy XXH64 kernel the Python bloom builders hash with equals
    libxxhash value by value, on whole, sliced and empty arrays of any
    length mix (stripes, 8-byte lanes, the 4-byte lane, tail bytes)."""
    import pyarrow as pa

    from fourmc_spark.format.native import xxh64, xxh64_array

    arr = pa.array(values, pa.binary())
    want = [xxh64(v, seed) for v in values]
    assert xxh64_array(arr, seed).tolist() == want
    lo, n = min(cut[0], len(values)), cut[1]
    assert xxh64_array(arr.slice(lo, n), seed).tolist() == want[lo:lo + n]


@given(
    hashes=st.lists(st.integers(0, (1 << 64) - 1), max_size=30),
    k=st.integers(1, 16),
    bits=st.integers(8, 1 << 24).map(lambda b: b * 8),
)
@settings(max_examples=200, deadline=None)
def test_bloom_set_bits_matches_scalar_positions(hashes, k, bits):
    """The vectorized bit setter sets exactly the bits a loop over the
    scalar bloom_positions derivation sets, for any geometry a builder
    accepts — one derivation, two spellings, no drift."""
    import numpy as np

    from fourmc_spark.sources.datasource import (
        bloom_positions, bloom_set_bits,
    )

    want = bytearray(bits // 8)
    for h in hashes:
        for p in bloom_positions(h, k, bits):
            want[p >> 3] |= 1 << (p & 7)
    got = np.zeros(bits // 8, np.uint8)
    bloom_set_bits(got, np.array(hashes, dtype=np.uint64), k, bits)
    assert got.tobytes() == bytes(want)


def _nan_last(v):
    """Sort key of Spark's ordering: NaN above every other value."""
    return (v != v, 0 if v != v else v)


def _same(a, b) -> bool:
    return a == b or (a != a and b != b)


_ZM_FLOAT = st.one_of(
    st.floats(allow_nan=False, width=64), st.just(float("nan"))
)


@given(
    groups=st.one_of(
        st.lists(st.lists(st.integers(-9, 9), max_size=4), max_size=5),
        st.lists(st.lists(st.text("abc", max_size=3), max_size=4), max_size=5),
        st.lists(st.lists(_ZM_FLOAT, max_size=4), max_size=5),
    ),
    nulls=st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=5,
                   max_size=5),
)
@settings(max_examples=400, deadline=None)
def test_zone_merge_matches_brute_force(groups, nulls):
    """zone_merge over spans (each one group's sorted ends, or no value
    for an empty group) equals sorting every value with NaN greatest:
    min first, max last, None for no values; null counts add up, and
    any unknown (None) count makes the total unknown. The same holds for
    the builders' form of a span, non-NaN ends plus _NAN_SPAN."""
    from fourmc_spark.sources.datasource import _NAN_SPAN, zone_merge

    ns = nulls[:len(groups)]
    spans, builder_spans = [], []
    for g, n in zip(groups, ns):
        s = sorted(g, key=_nan_last)
        spans.append((s[0], s[-1], n) if s else (None, None, n))
        real = [v for v in g if v == v]
        builder_spans.append(
            (min(real), max(real), n) if real else (None, None, n)
        )
        if len(real) < len(g):
            builder_spans.append(_NAN_SPAN)
    every = sorted((v for g in groups for v in g), key=_nan_last)
    want_nulls = None if None in ns else sum(ns)
    for got in (zone_merge(spans), zone_merge(builder_spans)):
        assert list(got) == ["min", "max", "nulls"]
        if every:
            assert _same(got["min"], every[0])
            assert _same(got["max"], every[-1])
        else:
            assert got["min"] is None and got["max"] is None
        assert got["nulls"] == want_nulls


#: every type name the flat DDL parser accepts -> its bloom family
_DDL_FAMILIES = {
    "bigint": "int", "long": "int", "int": "int", "integer": "int",
    "smallint": "int", "short": "int", "string": "str", "varchar": "str",
    "double": None, "float": None, "real": None, "boolean": None,
    "bool": None, "date": None, "timestamp": None, "timestamp_ntz": None,
}


@given(names=st.lists(st.sampled_from(sorted(_DDL_FAMILIES)), min_size=1,
                      max_size=8))
@settings(max_examples=100, deadline=None)
def test_bloom_family_is_the_readers_probe_map(names):
    """The family every builder seals a bloom under is the one the typed
    reader probes with, for every flat-DDL type: a drift would hash one
    canonical text at build time and another at probe time."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl, bloom_family,
    )

    ddl = ", ".join(f"c{i} {t}" for i, t in enumerate(names))
    st_ = _parse_flat_ddl(ddl)
    want = {f"c{i}": _DDL_FAMILIES[t] for i, t in enumerate(names)}
    assert {f.name: bloom_family(f.dataType) for f in st_.fields} == want
    rd = FourMcDataSourceReader(
        CaseInsensitiveDict({"path": "/nonexistent", "jsonschema": ddl}), st_
    )
    assert rd._bloom_typemap == {c: f for c, f in want.items() if f}


def _kernel_cases():
    """(declared DDL type, Arrow type, value strategy) for every type the
    zone kernel sees: int64 at its ends and around 2^53, floats with NaN,
    ±inf and -0.0, non-ASCII strings, dates, timestamps."""
    import datetime as dt

    import pyarrow as pa

    big = st.sampled_from(
        [2**63 - 1, -(2**63), 2**53, 2**53 + 1, -(2**53) - 1]
    )
    nan = st.just(float("nan"))
    return {
        "bigint": (pa.int64(),
                   st.one_of(st.integers(-(2**63), 2**63 - 1), big)),
        "int": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
        "smallint": (pa.int16(), st.integers(-(2**15), 2**15 - 1)),
        "double": (pa.float64(), st.one_of(st.floats(width=64), nan,
                                           st.just(-0.0))),
        "float": (pa.float32(), st.one_of(st.floats(width=32), nan)),
        "string": (pa.string(), st.text(max_size=5)),
        "boolean": (pa.bool_(), st.booleans()),
        "date": (pa.date32(), st.dates()),
        "timestamp_ntz": (pa.timestamp("us"), st.datetimes()),
        # instants, tagged with a non-UTC zone as mapInArrow tags them
        # under such a session
        "timestamp": (pa.timestamp("us", tz="America/Los_Angeles"),
                      st.datetimes(timezones=st.just(dt.timezone.utc))),
    }


_KERNEL = _kernel_cases()


def _kernel_values(t):
    """Values of DDL type *t*, nulls mixed in; all-null arrays, and for
    floats all-NaN ones, drawn on purpose."""
    shapes = [
        st.lists(st.one_of(st.none(), _KERNEL[t][1]), max_size=40),
        st.lists(st.none(), max_size=5),
    ]
    if t in ("double", "float"):
        shapes.append(st.lists(st.sampled_from([float("nan"), None]),
                               min_size=1, max_size=5))
    return st.tuples(st.just(t), st.one_of(*shapes))


@given(
    case=st.sampled_from(sorted(_KERNEL)).flatmap(_kernel_values),
    cuts=st.lists(st.integers(0, 40), max_size=4),
)
@settings(max_examples=400, deadline=None)
def test_zone_spans_chunking_matches_scalar_oracle(case, cuts):
    """zone_merge over the zone_spans of any chunking of an array equals
    a one-shot scalar oracle under Spark's ordering (NaN above every
    double): min/max of the non-null values, converted to sidecar form
    after comparing (epoch micros of the instant, ISO text for
    timestamp_ntz and date), and the null count. Chunking invariance is
    what lets a scan partition's batches, a block's runs and a file's
    blocks be folded in any grouping."""
    import datetime as dt

    import pyarrow as pa

    from fourmc_spark.sources.datasource import (
        _parse_flat_ddl, zone_merge, zone_spans,
    )

    ddl_type, values = case
    arrow_t = _KERNEL[ddl_type][0]
    dtype = _parse_flat_ddl(f"c {ddl_type}").fields[0].dataType
    arr = pa.array(values, arrow_t)
    bounds = sorted({0, len(values), *(c for c in cuts if c <= len(values))})
    spans = [
        s
        for a, b in zip(bounds[:-1], bounds[1:])
        for s in zone_spans(arr.slice(a, b - a), dtype)
    ]
    got = zone_merge(spans)

    def sidecar(v):
        if ddl_type == "timestamp":
            epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            return (v - epoch) // dt.timedelta(microseconds=1)
        if ddl_type == "timestamp_ntz":
            return v.isoformat(sep=" ")
        return v.isoformat() if ddl_type == "date" else v

    real = sorted((v for v in values if v is not None), key=_nan_last)
    assert got["nulls"] == values.count(None)
    if not real:
        assert got["min"] is None and got["max"] is None
        return
    for key, want in (("min", real[0]), ("max", real[-1])):
        assert _same(got[key], sidecar(want)), (key, got, real)
        assert type(got[key]) is type(sidecar(want))
