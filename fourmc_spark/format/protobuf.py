"""Protobuf record model over the 4mc/4mz byte stream (S8/K4 in SURVEY §2.1).

The reference reads/writes ElephantBird block-encoded protobuf records
inside 4mc containers (`FourMcEbProtoInputFormat.java:34-80`,
`FourMcEbProtoOutputFormat.java:37-98`).  Neither the protobuf wheel nor
the spark-protobuf connector jar is available in this environment, so this
module implements the two *public* wire formats directly:

1. **Protobuf wire format** (developers.google.com/protocol-buffers/docs/encoding):
   varint / 64-bit / length-delimited / 32-bit field encodings, driven by a
   declarative schema (:class:`ProtoField`) instead of generated classes.
   Covers every type the reference exercises (string, int64, repeated
   string — `user.proto:7-14`) plus int32/bool/double/float/bytes for
   generality.
2. **ElephantBird binary-block framing** (twitter/elephant-bird
   `BinaryBlockWriter`/`BinaryBlockReader`): a 16-byte sync marker, a
   varint length, then a `SerializedBlock` message
   ``{1: version=1, 2: proto_class_name, 3: repeated proto_blobs}``.
   The sync marker makes mid-split resynchronization possible — the
   protobuf twin of the line-boundary rule S5.

Split ownership rule (mirrors `iter_lines_for_split`): an EB block belongs
to the split whose compressed-offset range contains the 4mc block in which
its sync marker *starts*.  Readers scan past ``split_end`` just far enough
to finish the last owned EB block, so the union of splits is exactly the
file, each record once.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Any, BinaryIO, Iterator

from . import core
from .reader import iter_block_payloads

__all__ = [
    "ProtoField",
    "USER_SCHEMA",
    "SYNC_MARKER",
    "encode_varint",
    "decode_varint",
    "encode_message",
    "decode_message",
    "encode_eb_block",
    "decode_eb_block",
    "iter_eb_records_for_split",
    "spark_struct",
]

# elephant-bird's Protobufs.KNOWN_GOOD_POSITION_MARKER (public constant):
# 16 bytes that cannot appear as a valid varint-prefixed SerializedBlock
# start, used to find block boundaries from an arbitrary stream position.
SYNC_MARKER = bytes(
    [0x29, 0xD8, 0xD5, 0x06, 0x58, 0xCD, 0x4C, 0x29,
     0xB2, 0xBC, 0x57, 0x99, 0x21, 0x71, 0xBD, 0xFF]
)

_WIRE_VARINT = 0
_WIRE_I64 = 1
_WIRE_LEN = 2
_WIRE_I32 = 5

_WIRE_FOR_TYPE = {
    "string": _WIRE_LEN,
    "bytes": _WIRE_LEN,
    "int64": _WIRE_VARINT,
    "int32": _WIRE_VARINT,
    "bool": _WIRE_VARINT,
    "double": _WIRE_I64,
    "float": _WIRE_I32,
}


@dataclass(frozen=True)
class ProtoField:
    """One declared field: wire behavior is derived from ``type``."""

    number: int
    name: str
    type: str  # string|bytes|int64|int32|bool|double|float
    repeated: bool = False


# the reference's fixture schema (`java/examples/src/main/resources/user.proto:7-14`)
USER_SCHEMA: tuple[ProtoField, ...] = (
    ProtoField(1, "userId", "string"),
    ProtoField(2, "name", "string"),
    ProtoField(3, "type", "string"),
    ProtoField(4, "birthDate", "int64"),
    ProtoField(5, "tags", "string", repeated=True),
)


def encode_varint(value: int) -> bytes:
    """Base-128 varint; negative ints use 10-byte two's-complement form."""
    if value < 0:
        value &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Returns (value, new_pos). Raises on truncation/overlong input."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        if shift >= 70:
            raise ValueError("varint too long")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _encode_scalar(ftype: str, value: Any) -> bytes:
    if ftype == "string":
        payload = value.encode("utf-8")
        return encode_varint(len(payload)) + payload
    if ftype == "bytes":
        return encode_varint(len(value)) + bytes(value)
    if ftype in ("int64", "int32"):
        return encode_varint(int(value))
    if ftype == "bool":
        return encode_varint(1 if value else 0)
    if ftype == "double":
        return struct.pack("<d", value)
    if ftype == "float":
        return struct.pack("<f", value)
    raise ValueError(f"unsupported proto type {ftype!r}")


_ENCODER_CACHE: dict[tuple, tuple] = {}


def encode_message(record: dict[str, Any], schema: tuple[ProtoField, ...]) -> bytes:
    """Serialize a dict to protobuf wire bytes, fields in schema order."""
    plan = _ENCODER_CACHE.get(schema)
    if plan is None:
        # hoist per-field constants (wire-tag bytes) out of the row loop
        plan = tuple(
            (f.name, f.repeated, f.type,
             encode_varint((f.number << 3) | _WIRE_FOR_TYPE[f.type]))
            for f in schema
        )
        _ENCODER_CACHE[schema] = plan
    out = bytearray()
    get = record.get
    for name, repeated, ftype, tag in plan:
        value = get(name)
        if value is None:
            continue
        if repeated:
            for v in value:
                out += tag
                out += _encode_scalar(ftype, v)
        else:
            out += tag
            out += _encode_scalar(ftype, value)
    return bytes(out)


def _signed64(value: int) -> int:
    return value - (1 << 64) if value >= (1 << 63) else value


_DECODER_CACHE: dict[tuple, tuple] = {}


def _decoder_tables(schema: tuple[ProtoField, ...]) -> tuple:
    """Per-schema tables hoisted out of the per-record decode loop:
    (field-number -> ProtoField, names of non-repeated fields, names of
    repeated fields)."""
    t = _DECODER_CACHE.get(schema)
    if t is None:
        t = (
            {f.number: f for f in schema},
            tuple(f.name for f in schema if not f.repeated),
            tuple(f.name for f in schema if f.repeated),
        )
        _DECODER_CACHE[schema] = t
    return t


def decode_message(buf: bytes, schema: tuple[ProtoField, ...]) -> dict[str, Any]:
    """Parse wire bytes into a dict; unknown fields are skipped (proto rule).

    Missing optional fields decode as None; repeated fields as lists
    (empty list when absent — matches generated-class semantics).
    """
    by_number, plain_names, rep_names = _decoder_tables(schema)
    rec: dict[str, Any] = dict.fromkeys(plain_names)
    for name in rep_names:
        rec[name] = []
    pos = 0
    n = len(buf)
    get_field = by_number.get
    while pos < n:
        # inline the 1-byte-varint fast path for the tag (the common case:
        # field numbers < 16)
        key = buf[pos]
        pos += 1
        if key & 0x80:
            key &= 0x7F
            shift = 7
            while True:
                if pos >= n:
                    raise ValueError("truncated varint")
                b = buf[pos]
                pos += 1
                key |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
                if shift >= 70:
                    raise ValueError("varint too long")
        number, wire = key >> 3, key & 7
        f = get_field(number)
        if wire == _WIRE_VARINT:
            if pos < n and buf[pos] < 0x80:  # 1-byte fast path
                raw = buf[pos]
                pos += 1
            else:
                raw, pos = decode_varint(buf, pos)
            value: Any = raw
            if f is not None:
                if f.type == "bool":
                    value = bool(raw)
                elif f.type == "int64":
                    value = _signed64(raw)
                elif f.type == "int32":
                    value = _signed64(raw) & 0xFFFFFFFF
                    value = value - (1 << 32) if value >= (1 << 31) else value
        elif wire == _WIRE_I64:
            if pos + 8 > n:
                raise ValueError("truncated fixed64")
            value = struct.unpack_from("<d", buf, pos)[0] if f and f.type == "double" \
                else struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wire == _WIRE_LEN:
            if pos < n and buf[pos] < 0x80:  # 1-byte fast path
                size = buf[pos]
                pos += 1
            else:
                size, pos = decode_varint(buf, pos)
            if pos + size > n:
                raise ValueError("truncated length-delimited field")
            raw_bytes = buf[pos : pos + size]
            pos += size
            if f is None:
                value = raw_bytes
            elif f.type == "string":
                value = raw_bytes.decode("utf-8")
            else:
                value = raw_bytes
        elif wire == _WIRE_I32:
            if pos + 4 > n:
                raise ValueError("truncated fixed32")
            value = struct.unpack_from("<f", buf, pos)[0] if f and f.type == "float" \
                else struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        if f is None:
            continue
        if f.repeated:
            rec[f.name].append(value)
        else:
            rec[f.name] = value
    return rec


# ---------------------------------------------------------------------------
# ElephantBird SerializedBlock framing
# ---------------------------------------------------------------------------

_SB_SCHEMA: tuple[ProtoField, ...] = (
    ProtoField(1, "version", "int32"),
    ProtoField(2, "proto_class_name", "string"),
    ProtoField(3, "proto_blobs", "bytes", repeated=True),
)


def encode_eb_block(blobs: list[bytes], class_name: str) -> bytes:
    """marker + varint(len) + SerializedBlock{version=1, class, blobs}."""
    body = encode_message(
        {"version": 1, "proto_class_name": class_name, "proto_blobs": blobs},
        _SB_SCHEMA,
    )
    return SYNC_MARKER + encode_varint(len(body)) + body


def decode_eb_block(body: bytes) -> tuple[str, list[bytes]]:
    rec = decode_message(body, _SB_SCHEMA)
    if rec["version"] not in (None, 1):
        raise ValueError(f"unsupported SerializedBlock version {rec['version']}")
    return rec["proto_class_name"] or "", list(rec["proto_blobs"])


def iter_eb_records_for_split(
    f: BinaryIO,
    codec: str,
    split_start: int,
    split_end: int,
    schema: tuple[ProtoField, ...],
    verify: bool = True,
) -> Iterator[tuple[int, dict[str, Any]]]:
    """Yield (owner_block_offset, record_dict) for one block-aligned split.

    Ownership: the 4mc block in which the EB sync marker starts must lie in
    [split_start, split_end).  The protobuf analog of
    ``iter_lines_for_split``; resync = scan to the next marker (what EB's
    ``BinaryBlockReader`` does after a seek).
    """
    first_block = core.HEADER_SIZE
    if split_start < first_block:
        split_start = first_block

    buf = bytearray()
    # chunk attribution: list of (start_pos_in_buf_coords, block_offset);
    # consumed counts bytes dropped from the front of buf so far.
    spans: list[tuple[int, int]] = []
    consumed = 0
    blocks = iter_block_payloads(f, codec, split_start, verify=verify)
    exhausted = False

    def owner_of(buf_pos: int) -> int:
        abs_pos = consumed + buf_pos
        lo = -1
        for s, off in spans:
            if s <= abs_pos:
                lo = off
            else:
                break
        return lo

    def fill(need: int) -> bool:
        nonlocal exhausted
        while len(buf) < need and not exhausted:
            try:
                boff, payload = next(blocks)
            except StopIteration:
                exhausted = True
                return len(buf) >= need
            spans.append((consumed + len(buf), boff))
            buf.extend(payload)
        return len(buf) >= need

    def drop(n: int) -> None:
        nonlocal consumed
        del buf[:n]
        consumed += n
        while len(spans) > 1 and spans[1][0] <= consumed:
            spans.pop(0)

    while True:
        # locate the next sync marker, pulling more blocks as needed
        while True:
            idx = buf.find(SYNC_MARKER)
            if idx >= 0:
                break
            # keep a marker-sized tail so a straddling marker is found
            if len(buf) > len(SYNC_MARKER):
                drop(len(buf) - len(SYNC_MARKER) + 1)
            if not fill(len(buf) + 1):
                return
        marker_owner = owner_of(idx)
        if marker_owner >= split_end:
            return
        drop(idx + len(SYNC_MARKER))
        # varint length (≤5 bytes for any sane block) then the block body
        while True:
            try:
                size, pos = decode_varint(bytes(buf[:10]), 0)
                break
            except ValueError:
                if not fill(len(buf) + 1):
                    return
        if not fill(pos + size):
            return
        body = bytes(buf[pos : pos + size])
        drop(pos + size)
        if marker_owner >= split_start:
            _, blobs = decode_eb_block(body)
            for blob in blobs:
                yield marker_owner, decode_message(blob, schema)


def spark_struct(schema: tuple[ProtoField, ...]):
    """Map a proto schema to the Spark StructType the reference's EB
    adapter would surface (`SURVEY.md §1.3`)."""
    from pyspark.sql import types as T

    scalar = {
        "string": T.StringType(),
        "bytes": T.BinaryType(),
        "int64": T.LongType(),
        "int32": T.IntegerType(),
        "bool": T.BooleanType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
    }
    fields = []
    for f in schema:
        dt = scalar[f.type]
        if f.repeated:
            dt = T.ArrayType(dt, containsNull=False)
        fields.append(T.StructField(f.name, dt, nullable=True))
    return T.StructType(fields)


#: proto field types whose values share an ordering with the JSON
#: sidecar primitives (number/string) — the single source of truth for
#: which payload fields are zone-map-eligible, consumed by BOTH the
#: scan's pushFilters (sources/protobuf.py) and the analyzer
#: (operators/maintenance.analyze_stats_proto); a type added to one
#: side only would strand pruning state or waste ANALYZE work.
ZONE_ELIGIBLE_TYPES = ("string", "int64", "int32", "double", "float")


def zone_eligible_fields(schema: tuple[ProtoField, ...]) -> list[str]:
    """Names of the scalar orderable fields zone maps can prune on."""
    return [
        f.name for f in schema
        if not f.repeated and f.type in ZONE_ELIGIBLE_TYPES
    ]


#: proto type -> bloom probe family: fields whose decoded Python value's
#: str() IS the canonical probe text (ints in decimal, strings as-is).
#: float/double are excluded (equality semantics hazard — ranges already
#: have zone maps), bool/bytes/repeated have no canonical probe text.
BLOOM_ELIGIBLE_TYPES = {"string": "str", "int64": "int", "int32": "int"}


def bloom_eligible_fields(schema: tuple[ProtoField, ...]) -> dict[str, str]:
    """name -> probe type family ('int' | 'str') for the fields bloom
    sidecars can prune on (sources/datasource._excluded)."""
    return {
        f.name: BLOOM_ELIGIBLE_TYPES[f.type]
        for f in schema
        if not f.repeated and f.type in BLOOM_ELIGIBLE_TYPES
    }
