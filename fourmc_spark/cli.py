"""Command-line compress / decompress / verify for 4mc/4mz files.

Parity with the reference CLI (`native/4mccli.c:132-151` usage,
`native/4mccli.c:170-354` arg dispatch; compression loop
`native/4mc.c:220-389`, decode+verify `native/4mc.c:560-707`):

    python -m fourmc_spark [-z] [-1|-2|-3|-4] [-d|-t] [-f] [-p[N]] input [output]

* ``-z``       ZSTD (.4mz) instead of LZ4 (.4mc)
* ``-1..-4``   level: fast / medium / high / ultra (default fast)
* ``-d``       decompress
* ``-t``       test: decompress to the null device, verifying every
               block checksum and the footer index chain
* ``-f``       overwrite existing output
* ``-p[N]``    use N threads (default: all cores) — blocks are
               independently compressed, so both directions parallelize
               with byte-identical output (the reference CLI is
               single-threaded; this is the multicore extension)
* ``input``/``output`` may be ``-`` for stdin/stdout (stdin is
  non-seekable, so ``-t``/``-d`` from a pipe stream blocks without the
  footer cross-check, exactly like the reference's streaming mode;
  parallel decode needs the footer, so pipe decode stays serial while
  pipe *compress* still parallelizes)

Memory is bounded by one 4 MiB block either direction in serial mode —
the CLI streams, it never loads whole files; ``-p`` bounds memory at
~N+4 in-flight blocks (compress) / one 64 MiB window (decompress).
"""

from __future__ import annotations

import os
import sys

from fourmc_spark.format import core


def _usage(prog: str = "fourmc") -> str:
    return (
        f"usage: {prog} [-z] [-1|-2|-3|-4] [-d|-t] [-f] [-p[N]] input [output]\n"
        "  -z  zstd (.4mz) format (default: lz4 .4mc)\n"
        "  -1..-4  compression level fast/medium/high/ultra (default -1)\n"
        "  -d  decompress (default for .4mc/.4mz inputs)\n"
        "  -t  test compressed file integrity (decompress to null)\n"
        "  -f  overwrite output if it exists\n"
        "  -p[N]  parallel: decode/encode blocks on N threads (default all cores)\n"
        "  -V  print version and exit; -v/-q verbose/quiet (accepted for parity)\n"
        "  -h  this help\n"
        "  input/output: file paths, or '-' for stdin/stdout\n"
    )


class CliError(Exception):
    pass


def _open_in(path: str):
    if path == "-":
        return sys.stdin.buffer, False
    if not os.path.exists(path):
        raise CliError(f"input not found: {path}")
    return open(path, "rb"), True


def _open_out(path: str | None, force: bool):
    if path == "-" or path is None:
        return sys.stdout.buffer, False
    if os.path.exists(path) and not force:
        raise CliError(f"output exists (use -f to overwrite): {path}")
    return open(path, "wb"), True


def _compress(src, dst, codec: str, level: str, threads: int | None = None) -> tuple[int, int]:
    from fourmc_spark.format.writer import FourMcWriter

    n_in = 0
    with FourMcWriter(dst, codec=codec, level=level, workers=threads) as w:
        while True:
            chunk = src.read(core.MAX_BLOCK_SIZE)
            if not chunk:
                break
            n_in += len(chunk)
            w.write(chunk)
    # after close(): includes drained in-flight blocks, EOS and footer
    return n_in, w.bytes_written


def _decode_stream(src, sink, seekable: bool, threads: int | None = None) -> int:
    """Decompress (or verify, when sink is None) a 4mc/4mz stream.

    With a seekable source the footer index is read first and every
    block offset is cross-checked against the actual block positions —
    the full verification chain of the reference decoder
    (native/4mc.c:560-707). From a pipe, blocks are still
    checksum-verified individually.
    """
    from fourmc_spark.format.reader import iter_block_payloads, read_index

    if seekable and threads is not None and threads > 1:
        # parallel windowed decode: the extent cross-check inside
        # _parse_blocks subsumes the footer/stream offset comparison below
        from fourmc_spark.format.parallel import iter_decoded_windows

        n_out = 0
        for span in iter_decoded_windows(src, threads=threads):
            n_out += len(span)
            if sink is not None:
                sink.write(span)
        return n_out

    expected_offsets: list[int] | None = None
    if seekable:
        pos0 = src.tell()
        src.seek(0, os.SEEK_END)
        size = src.tell()
        magic, index = read_index(src, size)
        expected_offsets = index.offsets
        src.seek(pos0)
        hdr = src.read(core.HEADER_SIZE)
        core.decode_header(hdr)
    else:
        hdr = src.read(core.HEADER_SIZE)
        magic = core.decode_header(hdr)
    codec = core.codec_for_magic(magic)

    n_out = 0
    seen_offsets: list[int] = []
    for off, data in iter_block_payloads(src, codec, verify=True):
        seen_offsets.append(off)
        n_out += len(data)
        if sink is not None:
            sink.write(data)
    if expected_offsets is not None and seen_offsets != expected_offsets:
        raise core.BadFooterError(
            f"footer index lists {len(expected_offsets)} blocks at "
            f"{expected_offsets[:3]}..., stream contains {len(seen_offsets)} "
            f"at {seen_offsets[:3]}..."
        )
    return n_out


def _default_output(inp: str, mode: str, codec: str) -> str | None:
    if inp == "-":
        return None  # stdout
    if mode == "compress":
        return inp + core.extension_for_codec(codec)
    if core.is_indexed_path(inp):
        return inp[: inp.rfind(".")]
    raise CliError(f"cannot derive output name from {inp!r}; pass one explicitly")


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    codec = "lz4"
    level = "fast"
    mode: str | None = None  # None = infer from the input extension
    force = False
    verbose = False
    threads: int | None = None
    paths: list[str] = []
    levels = {"-1": "fast", "-2": "medium", "-3": "high", "-4": "ultra"}
    for a in argv:
        if a in ("-h", "--help"):
            sys.stderr.write(_usage())
            return 0
        elif a in ("-V", "--version"):
            from fourmc_spark import __version__

            sys.stderr.write(f"fourmc-spark {__version__}\n")
            return 0
        elif a == "-v":
            verbose = True
        elif a == "-q":
            verbose = False
        elif a == "-z":
            codec = "zstd"
        elif a in levels:
            level = levels[a]
        elif a == "-d":
            mode = "decompress"
        elif a == "-t":
            mode = "test"
        elif a == "-f":
            force = True
        elif a == "-p" or (a.startswith("-p") and a[2:].isdigit()):
            threads = int(a[2:]) if a[2:] else (os.cpu_count() or 4)
        elif a == "-" or not a.startswith("-"):
            paths.append(a)
        else:
            sys.stderr.write(f"unknown option {a}\n{_usage()}")
            return 2
    if not 1 <= len(paths) <= 2:
        sys.stderr.write(_usage())
        return 2
    inp = paths[0]
    outp = paths[1] if len(paths) == 2 else None
    if mode is None:
        # reference default: "-d : decompression (default for .4mc and
        # .4mz exts)" (native/4mccli.c:145) — infer from the input name
        mode = "decompress" if core.is_indexed_path(inp) else "compress"
    del verbose  # parity flag: output is already one summary line

    try:
        src, seekable = _open_in(inp)
        try:
            if mode == "compress":
                dst, close_dst = _open_out(outp or _default_output(inp, mode, codec), force)
                try:
                    n_in, n_out = _compress(src, dst, codec, level, threads)
                finally:
                    if close_dst:
                        dst.close()
                ratio = n_in / n_out if n_out else 0.0
                sys.stderr.write(
                    f"compressed {n_in} -> {n_out} bytes (ratio {ratio:.3f})\n"
                )
            elif mode == "decompress":
                dst, close_dst = _open_out(outp or _default_output(inp, mode, codec), force)
                try:
                    n = _decode_stream(src, dst, seekable, threads)
                finally:
                    if close_dst:
                        dst.close()
                sys.stderr.write(f"decompressed {n} bytes\n")
            else:  # test
                n = _decode_stream(src, None, seekable, threads)
                sys.stderr.write(f"OK: {n} bytes, all checksums + footer verified\n")
        finally:
            if src is not sys.stdin.buffer:
                src.close()
    except (CliError, core.FourMcFormatError) as exc:
        sys.stderr.write(f"error: {exc}\n")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
