"""Spark Python DataSource for ElephantBird protobuf records in 4mc/4mz.

PySpark-native twin of the reference's EB adapters (SURVEY.md §2.1 S8/K4:
`FourMcEbProtoInputFormat.java:34-80`, `FourMcEbProtoOutputFormat.java:37-98`).
The record schema is declarative (no generated classes): pass ``fields`` as
a JSON array of ``{number, name, type, repeated}`` — default is the
reference's `user.proto` fixture schema.

Usage::

    spark.dataSource.register(FourMcProtoDataSource)
    df = spark.read.format("fourmcproto").load(path)   # struct columns
    df.write.format("fourmcproto").option("codec", "zstd") \
        .option("level", "high").save(out)

Planning is identical to the text source (one footer read per file,
block-aligned splits); the record reader resynchronizes on the EB sync
marker instead of a newline.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceArrowWriter, WriterCommitMessage
from pyspark.sql.types import StructType

from fourmc_spark.format.protobuf import ProtoField, USER_SCHEMA, spark_struct

from .datasource import (
    FourMcCommitMessage, FourMcDataSourceReader, FourMcInputPartition,
    _snapshot, discard, publish,
)
from .stream import FourMcStreamReader, FourMcStreamWriter

DEFAULT_CLASS_NAME = "com.fing.fourmc.protobuf.USER$User"
DEFAULT_RECORDS_PER_BLOCK = 100  # elephant-bird BinaryBlockWriter default


def _schema_from_options(options) -> tuple[ProtoField, ...]:
    raw = options.get("fields")
    if not raw:
        return USER_SCHEMA
    return tuple(
        ProtoField(
            number=int(f["number"]),
            name=f["name"],
            type=f["type"],
            repeated=bool(f.get("repeated", False)),
        )
        for f in json.loads(raw)
    )


class FourMcProtoDataSource(DataSource):
    """name: ``fourmcproto``; schema derived from the proto field list."""

    # the cores split packing aims at, as on FourMcDataSource
    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "fourmcproto"

    def schema(self) -> StructType:
        return spark_struct(_schema_from_options(self.options))

    def reader(self, schema: StructType) -> "FourMcProtoReader":
        return FourMcProtoReader(self.options, schema, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> "FourMcProtoWriter":
        return FourMcProtoWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType):
        return FourMcProtoStreamReader(self.options, schema, self.parallelism)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return FourMcProtoStreamWriter(self.options, schema, overwrite)


class FourMcProtoReader(FourMcDataSourceReader):
    """Reuses the text source's block-aligned planning (S1/X4-X6); only the
    record loop differs: EB sync-marker resync instead of newline."""

    source_name = "fourmcproto"
    reads_unindexed = False

    def __init__(
        self, options, schema: StructType, cores: int | None = None
    ) -> None:
        self._init_split_options(options, cores)
        self.proto_schema = _schema_from_options(options)
        self.columns = [f.name for f in schema.fields]
        # shared pruning state consumed by the inherited pushFilters()/
        # partitions(); every proto column is a PAYLOAD field from the
        # user's schema — including one legally named "offset", which
        # must never route into the compressed-block-offset pruning
        # (it zone-prunes by VALUE like any other payload field) — and
        # the source has no hive partition columns
        self.offset_is_pseudo = False
        self.pcols = []
        # value zone-map constraints (analyze_stats_proto sidecars) on
        # the scalar orderable payload fields; bool/bytes/repeated have
        # no shared ordering with JSON stats and stay unpruned. Bloom
        # probes on scalar int/string payload fields: the decoded
        # Python value's str() is the canonical text analyze_stats_proto
        # hashed at build time (bloom_columns=...)
        from fourmc_spark.format.protobuf import (
            bloom_eligible_fields, zone_eligible_fields,
        )

        self._init_pruning_state(
            options,
            zone_eligible_fields(self.proto_schema),
            bloom_eligible_fields(self.proto_schema),
        )

    def slice_reader(self, names: list[str]):
        """The text reader's :meth:`slice_reader` over EB records: a
        function from a slice to its ``(block offsets, columns)`` batches
        of up to 8192 records, each record's owner block offset (the
        block its sync marker starts in) and one Arrow array per field
        in *names*."""
        import numpy as np
        import pyarrow as pa

        from fourmc_spark.format.protobuf import iter_eb_records_for_split

        by_name = {f.name: f for f in self.proto_schema}
        types = _arrow_schema([by_name[n] for n in names]).types
        batch_rows = 8192

        def _batch(offs: list, cols: list) -> tuple:
            return np.array(offs, np.int64), [
                pa.array(c, t) for c, t in zip(cols, types)
            ]

        def batches(sl):
            offs: list[int] = []
            cols: list[list] = [[] for _ in names]
            with open(sl.path, "rb") as f:
                for owner, rec in iter_eb_records_for_split(
                    f, sl.codec, sl.start, sl.end, self.proto_schema,
                    verify=self.verify,
                ):
                    offs.append(owner)
                    for n, col in zip(names, cols):
                        col.append(rec[n])
                    if len(offs) >= batch_rows:
                        yield _batch(offs, cols)
                        offs, cols = [], [[] for _ in names]
            if offs:
                yield _batch(offs, cols)

        return batches

    def read(self, partition: FourMcInputPartition):
        import pyarrow as pa

        wanted = [f for f in self.proto_schema if f.name in self.columns]
        schema = _arrow_schema(wanted)
        batches = self.slice_reader([f.name for f in wanted])
        for sl in partition.slices():
            for _, arrays in batches(sl):
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)


def _arrow_schema(fields: tuple[ProtoField, ...] | list[ProtoField]):
    import pyarrow as pa

    scalar = {
        "string": pa.string(),
        "bytes": pa.binary(),
        "int64": pa.int64(),
        "int32": pa.int32(),
        "bool": pa.bool_(),
        "double": pa.float64(),
        "float": pa.float32(),
    }
    return pa.schema(
        [
            pa.field(f.name, pa.list_(scalar[f.type]) if f.repeated else scalar[f.type])
            for f in fields
        ]
    )


class FourMcProtoWriter(DataSourceArrowWriter):
    """Per-task sink: rows -> proto blobs -> EB blocks -> framed 4mc/4mz
    file (K4 over K1), staged, then landed by the text sink's
    :func:`publish` (or dropped by :func:`discard`)."""

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fourmcproto sink requires a path")
        from fourmc_spark.format.writer import normalize_codec

        # resolved here, driver side: a container the EB writer cannot
        # frame fails the job before any task writes a file
        self.codec = normalize_codec(options.get("codec", "lz4"))
        self.level = options.get("level", "fast")
        self.class_name = options.get("classname", DEFAULT_CLASS_NAME)
        self.records_per_block = int(
            options.get("recordsperblock", DEFAULT_RECORDS_PER_BLOCK)
        )
        from fourmc_spark.format.core import MAX_BLOCK_SIZE

        self.block_size = int(options.get("blocksize", MAX_BLOCK_SIZE))
        self.overwrite = overwrite
        self.proto_schema = _schema_from_options(options)
        self.field_names = [f.name for f in schema.fields]
        # the text sink's overwrite snapshot: nested files included
        self.existing = _snapshot(self.path) if overwrite else []

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        from fourmc_spark.format.core import extension_for_codec
        from fourmc_spark.format.protobuf import encode_eb_block, encode_message
        from fourmc_spark.format.writer import FourMcWriter

        fname = f"part-{uuid.uuid4().hex}{extension_for_codec(self.codec)}"
        staging = os.path.join(self.path, "_temporary")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, fname)
        final = os.path.join(self.path, fname)
        pending: list[bytes] = []
        with open(staged, "wb") as f, FourMcWriter(
            f, codec=self.codec, level=self.level, block_size=self.block_size
        ) as w:
            for batch in iterator:
                for row in batch.to_pylist():
                    pending.append(encode_message(row, self.proto_schema))
                    if len(pending) >= self.records_per_block:
                        w.write(encode_eb_block(pending, self.class_name))
                        pending.clear()
            if pending:
                w.write(encode_eb_block(pending, self.class_name))
        return FourMcCommitMessage(files=((staged, final),))

    def commit(self, messages) -> None:
        publish(self.path, messages, self.existing)

    def abort(self, messages) -> None:
        discard(self.path, messages)


class FourMcProtoStreamReader(FourMcStreamReader):
    """S8 streaming twin: the fourmc stream source's sealed-file offset
    machinery (monotone high-water mark, maxfilespertrigger,
    orderednames) over the EB-protobuf record model."""

    def _make_batch_reader(self, options, schema: StructType, cores):
        return FourMcProtoReader(options, schema, cores)


class FourMcProtoStreamWriter(FourMcStreamWriter):
    """K4 streaming twin: per-micro-batch sealed proto files with the
    fourmc stream sink's batch-replay-idempotent deterministic commit
    names."""

    def _make_batch_writer(self, options, schema: StructType):
        return FourMcProtoWriter(options, schema, overwrite=False)
