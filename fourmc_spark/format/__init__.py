from .core import (
    MAGIC_4MC,
    MAGIC_4MZ,
    MAX_BLOCK_SIZE,
    BadBlockError,
    BadFooterError,
    BadHeaderError,
    BlockIndex,
    FourMcFormatError,
    NOT_FOUND,
)
from .parallel import decompress_file_parallel, iter_decoded_windows
from .reader import (
    decompress_file,
    iter_block_payloads,
    iter_line_batches,
    iter_lines_for_split,
    read_index,
    scan_file_info,
)
from .writer import FourMcWriter, ZstWriter, compress_bytes, write_file, write_zst_file

__all__ = [
    "MAGIC_4MC",
    "MAGIC_4MZ",
    "MAX_BLOCK_SIZE",
    "NOT_FOUND",
    "BadBlockError",
    "BadFooterError",
    "BadHeaderError",
    "BlockIndex",
    "FourMcFormatError",
    "FourMcWriter",
    "ZstWriter",
    "compress_bytes",
    "decompress_file",
    "decompress_file_parallel",
    "iter_decoded_windows",
    "iter_block_payloads",
    "iter_line_batches",
    "iter_lines_for_split",
    "read_index",
    "scan_file_info",
    "write_file",
    "write_zst_file",
]
