"""Conformance of the .zst streaming reader against frames the STOCK
zstd CLI emits (VERDICT r5 optional hardening #7).

The reader's own sink was already CLI-validated; these pin the other
direction — every frame shape the stock tool produces must scan
correctly: levels, --long window modes, piped input (no content size in
the frame header, which also declares the FULL long-mode window),
multi-frame concatenation, and skippable frames. Skipped when no zstd
binary is on PATH.
"""

from __future__ import annotations

import shutil
import struct
import subprocess

import pytest

from fourmc_spark.format.native import zstd_stream_decompress_chunks
from fourmc_spark.format.reader import iter_line_batches

pytestmark = pytest.mark.skipif(
    shutil.which("zstd") is None, reason="stock zstd CLI not available"
)

LINES = [b"alpha", b"beta" * 40, b"", b"gamma-%d" % 12345] * 500
DATA = b"\n".join(LINES) + b"\n"


def _cli(data: bytes, *flags: str) -> bytes:
    # piped input: content size unknown -> frame header carries no
    # content size and declares the full window for --long modes
    return subprocess.run(
        ["zstd", "-q", *flags], input=data, capture_output=True, check=True
    ).stdout


def _read_all(blob: bytes, chunk: int = 7777) -> bytes:
    chunks = [blob[i:i + chunk] for i in range(0, len(blob), chunk)]
    return b"".join(zstd_stream_decompress_chunks(iter(chunks)))


@pytest.mark.parametrize("flags", [
    ("-1",), ("-3",), ("-19",),
    ("-3", "--long=27"),
    ("-3", "--long=30"),   # window descriptor 2^30 — needs the raised
                           # windowLogMax (stock CLI itself refuses this
                           # frame on decode without an explicit --long)
])
def test_cli_piped_frames_decode(flags):
    assert _read_all(_cli(DATA, *flags)) == DATA


def test_cli_multi_frame_concatenation():
    parts = [DATA[:1000], DATA[1000:5000], DATA[5000:]]
    blob = b"".join(_cli(p, "-3") for p in parts)
    assert _read_all(blob) == DATA


def test_skippable_frames_between_data_frames():
    # RFC 8878 skippable frame: magic 0x184D2A5x + LE32 size + payload.
    # zstd tooling embeds these (e.g. seekable-format index); readers
    # must pass over them without emitting output.
    skip = struct.pack("<II", 0x184D2A50, 12) + b"opaque-meta."
    blob = skip + _cli(DATA[:2000], "-3") + skip + _cli(DATA[2000:], "-3") + skip
    assert _read_all(blob) == DATA


def test_line_iteration_offsets_over_cli_frame(tmp_path):
    p = tmp_path / "cli.zst"
    p.write_bytes(_cli(DATA, "-3", "--long=27"))
    with open(p, "rb") as f:
        got = [(int(o), v.as_py())
               for offs, lines in iter_line_batches(f, "zst", 0, 0)
               for o, v in zip(offs, lines)]
    assert [ln for _, ln in got] == LINES
    # offsets are exact decompressed positions of each line start
    pos = 0
    for (off, ln) in got:
        assert off == pos
        pos += len(ln) + 1


def test_out_of_range_window_knob_fails_loudly(monkeypatch):
    # an env override libzstd rejects must raise a config error, not
    # silently keep the 2^27 default
    from fourmc_spark.format import native

    monkeypatch.setattr(native, "_WINDOW_LOG_MAX", 50)
    with pytest.raises(ValueError, match="FOURMC_ZSTD_WINDOW_LOG_MAX"):
        _read_all(_cli(DATA[:100], "-3"))


def test_window_beyond_cap_still_rejected(monkeypatch):
    # the cap is a budget, not unlimited trust: a frame demanding a
    # window above FOURMC_ZSTD_WINDOW_LOG_MAX must fail loudly with the
    # libzstd reason, not OOM the executor
    from fourmc_spark.format import native

    blob = _cli(DATA, "-3", "--long=30")
    monkeypatch.setattr(native, "_WINDOW_LOG_MAX", 27)
    with pytest.raises(ValueError, match="corrupt .zst stream"):
        _read_all(blob)


def test_long_window_escalation_mid_stream():
    # the 1 GiB window authorization is granted lazily (ADVICE r6): a
    # stream that opens with ordinary frames and only later hits a
    # --long=30 frame must escalate at that frame (header replay into a
    # fresh context) and still decode every frame exactly
    blob = _cli(DATA[:3000], "-3") + _cli(DATA[3000:], "-3", "--long=30")
    assert _read_all(blob) == DATA
    # tiny chunks force the long frame's header across call boundaries,
    # exercising the replay buffer
    assert _read_all(blob, chunk=5) == DATA
