"""Pure-numpy image codecs (operators/imaging) + the real-decode
multimodal pipeline built on them."""

import struct

import numpy as np
import pytest

from fourmc_spark.operators import imaging, multimodal


def _rand(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (13, 4), (48, 64), (7, 7)])
def test_ppm_roundtrip(h, w):
    arr = _rand(h, w, 3, h * 100 + w)
    data = imaging.encode_ppm(arr)
    assert data.startswith(b"P6\n")
    back = imaging.decode_pnm(data)
    assert back.shape == (h, w, 3)
    assert np.array_equal(back, arr)


@pytest.mark.parametrize("h,w", [(1, 1), (4, 9), (31, 2)])
def test_pgm_roundtrip(h, w):
    arr = _rand(h, w, 1, h * 10 + w)
    data = imaging.encode_pgm(arr)
    back = imaging.decode_pnm(data)
    assert back.shape == (h, w, 1)
    assert np.array_equal(back[:, :, 0], arr[:, :, 0])


def test_ppm_header_comments():
    arr = _rand(2, 3, 3, 7)
    data = imaging.encode_ppm(arr)
    # splice netpbm comments into the header; decoder must skip them
    commented = b"P6\n# a comment\n3 2\n# another\n255\n" + data[-(2 * 3 * 3):]
    back = imaging.decode_pnm(commented)
    assert np.array_equal(back, arr)


# widths 1..5 cross every 4-byte row-padding phase (3*w % 4 = 3,2,1,0,3)
@pytest.mark.parametrize("w", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("h", [1, 3])
def test_bmp_roundtrip_all_padding_phases(h, w):
    arr = _rand(h, w, 3, w * 31 + h)
    data = imaging.encode_bmp(arr)
    assert data[:2] == b"BM"
    back = imaging.decode_bmp(data)
    assert np.array_equal(back, arr)


def test_bmp_topdown_decode():
    arr = _rand(4, 3, 3, 11)
    data = bytearray(imaging.encode_bmp(arr))
    # flip to top-down: negate height, reverse raster row order
    w, h = 3, 4
    row_bytes = (w * 3 + 3) & ~3
    struct.pack_into("<i", data, 14 + 8, -h)
    off = 54
    rows = [bytes(data[off + i * row_bytes: off + (i + 1) * row_bytes]) for i in range(h)]
    data[off:] = b"".join(reversed(rows))
    back = imaging.decode_bmp(bytes(data))
    assert np.array_equal(back, arr)


def test_sniff_and_dispatch():
    arr = _rand(2, 2, 3, 5)
    assert imaging.sniff_format(imaging.encode_ppm(arr)) == "ppm"
    assert imaging.sniff_format(imaging.encode_bmp(arr)) == "bmp"
    assert imaging.sniff_format(b"\xff\xd8\xff\xe0") == "jpeg"
    assert np.array_equal(imaging.decode_image(imaging.encode_ppm(arr)), arr)
    assert np.array_equal(imaging.decode_image(imaging.encode_bmp(arr)), arr)


@pytest.mark.parametrize("bad", [
    b"",                      # empty
    b"P6",                    # header cut
    b"P6\n3 2\n255\n\x00",    # raster truncated
    b"P6\n3 2\n65535\n" + b"\0" * 18,  # 16-bit maxval
    b"GIF89a......",          # unsupported container
    b"BM" + b"\x00" * 10,     # BMP header truncated
])
def test_decode_rejects(bad):
    with pytest.raises(imaging.UnsupportedImageError):
        imaging.decode_image(bad)


def test_decode_corrupt_png_raises_value_error():
    # PNG is decoded for real now (operators/png), so garbage after a
    # valid signature is a CORRUPT stream (plain ValueError), no longer
    # an unsupported format
    with pytest.raises(ValueError):
        imaging.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_decode_corrupt_jpeg_raises_value_error():
    # baseline JPEG is decoded for real now (operators/jpeg), so a
    # truncated stream is CORRUPT (ValueError), not unsupported
    with pytest.raises(ValueError):
        imaging.decode_image(b"\xff\xd8\xff\xe0jpeg")


def test_bmp_rejects_compressed():
    arr = _rand(2, 2, 3, 9)
    data = bytearray(imaging.encode_bmp(arr))
    struct.pack_into("<I", data, 14 + 16, 1)  # BI_RLE8
    with pytest.raises(imaging.UnsupportedImageError):
        imaging.decode_bmp(bytes(data))


def test_resize_nearest_floor_rule():
    arr = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    out = imaging.resize_nearest(arr, 2, 3)
    assert out.shape == (3, 2, 3)
    for yi in range(3):
        for xi in range(2):
            assert np.array_equal(out[yi, xi], arr[(yi * 6) // 3, (xi * 4) // 2])
    # identity resize is exact
    assert np.array_equal(imaging.resize_nearest(arr, 4, 6), arr)


def _lattice(d):
    w, h = 4 + d % 13, 3 + d % 11
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((3 * x + 7 * y + 11 * c + d) % 256).astype(np.uint8)


def test_synthesize_images_real_formats(spark):
    df = spark.range(12).withColumnRenamed("id", "doc_id")
    rows = {
        r["doc_id"]: r
        for r in multimodal.synthesize_images(df).collect()
    }
    assert len(rows) == 12
    for d, r in rows.items():
        expect = _lattice(d)
        assert r["fmt"] == ("ppm" if d % 2 else "bmp")
        arr = imaging.decode_image(bytes(r["payload"]))
        assert np.array_equal(arr, expect), f"doc {d}"


def test_extract_image_features_matches_lattice(spark):
    df = spark.range(20).withColumnRenamed("id", "doc_id")
    feats = {
        r["doc_id"]: r
        for r in multimodal.extract_image_features(
            multimodal.synthesize_images(df)
        ).collect()
    }
    for d in range(20):
        expect = _lattice(d)
        r = feats[d]
        assert (r["height"], r["width"], r["channels"]) == expect.shape[:2] + (3,)
        assert r["pix_sum"] == int(expect.sum(dtype=np.int64))


def test_resize_image_stats_matches_numpy(spark):
    df = spark.range(15).withColumnRenamed("id", "doc_id")
    out = {
        r["doc_id"]: r
        for r in multimodal.resize_image_stats(
            multimodal.synthesize_images(df), target_w=8, target_h=6
        ).collect()
    }
    for d in range(15):
        small = imaging.resize_nearest(_lattice(d), 8, 6)
        r = out[d]
        assert (r["width"], r["height"]) == (8, 6)
        assert r["resized_pix_sum"] == int(small.sum(dtype=np.int64))
        assert r["resized_bytes"] == 11 + 8 * 6 * 3  # P6 header + raster


def test_drop_alpha_folds_png_alpha_channels():
    # RGBA/gray+alpha arrays (PNG-only shapes) must fold to RGB/gray
    # before PPM/PGM re-encode, not silently collapse to channel 0
    rgba = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
    assert np.array_equal(imaging.drop_alpha(rgba), rgba[:, :, :3])
    ga = np.arange(2 * 3 * 2, dtype=np.uint8).reshape(2, 3, 2)
    assert np.array_equal(imaging.drop_alpha(ga), ga[:, :, :1])
    rgb = rgba[:, :, :3]
    assert imaging.drop_alpha(rgb) is rgb
    gray = ga[:, :, :1]
    assert imaging.drop_alpha(gray) is gray
    with pytest.raises(imaging.UnsupportedImageError):
        imaging.drop_alpha(np.zeros((2, 2, 5), dtype=np.uint8))


def test_resize_rgba_png_payload_keeps_rgb(spark):
    # finding regression: an RGBA PNG payload used to be re-encoded as a
    # one-channel PGM of the red plane only; it must fold to RGB
    from fourmc_spark.operators.png import encode_png

    rgba = _rand(10, 9, 4, 42)
    payload = encode_png(rgba)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    r = multimodal.resize_image_stats(df, target_w=4, target_h=3).collect()[0]
    small = imaging.resize_nearest(rgba, 4, 3)[:, :, :3]
    assert r["resized_pix_sum"] == int(small.sum(dtype=np.int64))
    assert r["resized_bytes"] == len(imaging.encode_ppm(small))
