"""The three workloads: seeded inputs, set-up through the package, one
operation at a time, and the check of each operation's answer.

An operation is what one user action costs: one full scan, one selective
query, one overwrite write. ``op(i)`` is a pure function of the seed and
``i``, so the traced phase can replay the first operations exactly.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc

from perfbench import gen

CODECS = (("lz4", "fast", ".4mc"), ("zstd", "medium", ".4mz"))


@dataclass
class OpResult:
    """``nbytes`` is the uncompressed data the operation covers; ``group``
    keeps the codecs apart, since their latencies differ."""

    ok: bool
    nbytes: int
    group: str
    detail: str = ""


@dataclass
class ReadSpec:
    """Options and pushed filters of a read, for the sources.* probes.
    Filters are ``(op, column, value)`` with op in ``ge``/``le``/``in``;
    ``matching`` is how many rows the query answers with."""

    options: dict
    filters: list = field(default_factory=list)
    matching: int = 0


def data_files(d: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(root, f) for f in sorted(files)
                if f.endswith((".4mc", ".4mz")) and not f.startswith((".", "_"))]
    return sorted(out)


def stored_bytes(d: str) -> tuple[int, int]:
    """(data file bytes, sidecar bytes) under ``d``."""
    from fourmc_spark.sources.datasource import STATS_SUFFIX

    data = side = 0
    for p in data_files(d):
        data += os.path.getsize(p)
        if os.path.exists(p + STATS_SUFFIX):
            side += os.path.getsize(p + STATS_SUFFIX)
    return data, side


class Workload:
    name = ""
    warmup = 2  # untimed operations before the clock starts
    setups = 3  # set-up repetitions; setup_s is their median
    traced_ops = 4  # operations replayed with tracing on

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        """Make the inputs (benchmark code only; not part of set-up time)."""

    def setup(self, spark) -> None:
        """Prepare the inputs through the package; timed and repeated."""

    def op(self, spark, i: int) -> OpResult:
        raise NotImplementedError

    def verify(self, i: int) -> str:
        """Checks of operation ``i`` that run after its timing stops;
        returns an error message or ''."""
        return ""

    def post_check(self, spark) -> str:
        """Checks after the timed loop; returns an error message or ''."""
        return ""

    def stored_ratio(self) -> float:
        raise NotImplementedError

    def layer_files(self) -> list[tuple[str, str, str]]:
        """(path, codec, level) of the workload's own 4mc/4mz files."""
        raise NotImplementedError

    def read_spec(self, i: int) -> ReadSpec:
        raise NotImplementedError

    def sink_input(self) -> tuple[dict, list[pa.RecordBatch]]:
        """Options and rows for a direct call of the sink's writer."""
        raise NotImplementedError


class ScanText(Workload):
    """Full scans of seeded text lines, alternating .4mc and .4mz copies."""

    name = "scan_text"
    setups = 5  # each takes ~0.4 s, so one slow write would move a median of 3
    n_files, file_bytes = 8, 4 << 20

    def generate(self) -> None:
        self.bufs = gen.scan_files(self.seed, self.n_files, self.file_bytes)
        stats = [gen.line_stats(b) for b in self.bufs]
        self.expected = (sum(s[0] for s in stats), sum(s[1] for s in stats))
        self.raw_bytes = sum(len(b) for b in self.bufs)

    def _dir(self, ext: str) -> str:
        return os.path.join(self.work, "scan" + ext.replace(".", "_"))

    def setup(self, spark) -> None:
        from fourmc_spark.format import write_file

        for codec, level, ext in CODECS:
            d = self._dir(ext)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            for i, b in enumerate(self.bufs):
                write_file(os.path.join(d, f"part-{i:02d}{ext}"), b, codec=codec, level=level)

    def op(self, spark, i: int) -> OpResult:
        from pyspark.sql import functions as F

        codec, _, ext = CODECS[i % 2]
        row = (
            spark.read.format("fourmc").load(self._dir(ext))
            .agg(F.count("*"), F.sum(F.length("value"))).collect()[0]
        )
        got = (row[0], row[1])
        return OpResult(got == self.expected, self.raw_bytes, codec,
                        f"got {got}, expected {self.expected}")

    def stored_ratio(self) -> float:
        stored = sum(sum(stored_bytes(self._dir(ext))) for *_, ext in CODECS)
        return stored / (2 * self.raw_bytes)

    def layer_files(self):
        return [(p, c, lv) for c, lv, ext in CODECS for p in data_files(self._dir(ext))]

    def read_spec(self, i: int) -> ReadSpec:
        return ReadSpec({"path": self._dir(CODECS[i % 2][2])}, [], self.expected[0])

    def sink_input(self):
        lines = self.bufs[0].decode().split("\n")[:-1]
        opts = {"path": os.path.join(self.work, "sink_probe"),
                "codec": "lz4", "level": "fast"}
        return opts, [pa.RecordBatch.from_arrays([pa.array(lines)], ["value"])]


class LookupPruned(Workload):
    """Selective typed queries over a ts-clustered NDJSON table of many
    small files, each with zone-map and bloom sidecars."""

    name = "lookup_pruned"
    traced_ops = 9
    n_files, rows_per_file, n_queries = 1000, 300, 200

    def sink_options(self, path: str) -> dict:
        # 40 distinct users per file: an 8 Kibit file bloom keeps false
        # positives negligible while the sidecar stays ~2 KiB
        return {"path": path, "codec": "lz4", "level": "fast",
                "statsschema": gen.EVENT_DDL, "bloomcolumns": "user_id",
                "bloombits": "8192"}

    def generate(self) -> None:
        self.ev = gen.events(self.seed, self.n_files, self.rows_per_file)
        self.lines = [gen.ndjson(self.ev, self.ev.file_rows(i)) for i in range(self.n_files)]
        self.raw_bytes = sum(
            pc.sum(pc.binary_length(a)).as_py() + len(a) for a in self.lines
        )
        self.queries = gen.queries(self.seed, self.ev, self.n_queries)
        self.table = os.path.join(self.work, "events")

    def setup(self, spark) -> None:
        from pyspark.sql.types import StringType, StructField, StructType

        from fourmc_spark.sources.datasource import FourMcDataSourceWriter

        # the sink's own writer, driven file by file in this process: one
        # Spark task per file would cost ~70 s for 1,000 files on 4 CPUs
        w = FourMcDataSourceWriter(
            self.sink_options(self.table),
            StructType([StructField("value", StringType())]), True,
        )
        msgs = [w.write(iter([pa.RecordBatch.from_arrays([a], ["value"])]))
                for a in self.lines]
        w.commit(msgs)

    def predicate(self, q: gen.Query):
        from pyspark.sql import functions as F

        cond = None
        if q.ts_lo is not None:
            cond = (F.col("ts") >= q.ts_lo) & (F.col("ts") <= q.ts_hi)
        if q.users:
            c = F.col("user_id").isin(list(q.users))
            cond = c if cond is None else cond & c
        return cond

    def op(self, spark, i: int) -> OpResult:
        from pyspark.sql import functions as F

        q = self.queries[i % len(self.queries)]
        # a fresh load() per query: reusing one relation under different
        # filters would hit Spark's readInfo cache
        row = (
            spark.read.format("fourmc").option("jsonschema", gen.EVENT_DDL)
            .load(self.table).where(self.predicate(q))
            .agg(F.count("*"), F.sum("amount")).collect()[0]
        )
        got = (row[0], row[1] or 0)
        return OpResult(got == (q.count, q.total), self.raw_bytes, "query",
                        f"query {i}: got {got}, expected {(q.count, q.total)}")

    def stored_ratio(self) -> float:
        return sum(stored_bytes(self.table)) / self.raw_bytes

    def layer_files(self):
        return [(p, "lz4", "fast") for p in data_files(self.table)]

    def read_spec(self, i: int) -> ReadSpec:
        q = self.queries[i % len(self.queries)]
        filters = []
        if q.ts_lo is not None:
            filters += [("ge", "ts", q.ts_lo), ("le", "ts", q.ts_hi)]
        if q.users:
            filters.append(("in", "user_id", list(q.users)))
        return ReadSpec({"path": self.table, "jsonschema": gen.EVENT_DDL},
                        filters, q.count)

    def sink_input(self):
        opts = self.sink_options(os.path.join(self.work, "sink_probe"))
        return opts, [pa.RecordBatch.from_arrays([a], ["value"]) for a in self.lines[:50]]


class IngestSink(Workload):
    """Overwrite writes of a JVM-cached NDJSON DataFrame through the sink,
    with write-time zone maps and blooms, alternating lz4 and zstd."""

    name = "ingest_sink"
    n_rows, partitions = 200_000, 4

    def sink_options(self, codec: str, level: str) -> dict:
        return {"codec": codec, "level": level, "statsschema": gen.EVENT_DDL,
                "bloomcolumns": "user_id"}

    def generate(self) -> None:
        self.rows = gen.ingest_rows(self.seed, self.n_rows)
        self.raw_bytes = (pc.sum(pc.binary_length(self.rows)).as_py()
                          + self.n_rows)
        self.df = None
        self.written: dict[str, float] = {}

    def _dir(self, codec: str) -> str:
        return os.path.join(self.work, "ingest_" + codec)

    def setup(self, spark) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = spark.createDataFrame(
            pa.table({"value": self.rows})
        ).repartition(self.partitions).cache()
        self.df.count()

    def op(self, spark, i: int) -> OpResult:
        codec, level, _ = CODECS[i % 2]
        w = self.df.write.format("fourmc").mode("overwrite")
        for k, v in self.sink_options(codec, level).items():
            w = w.option(k, v)
        w.save(self._dir(codec))
        return OpResult(True, self.raw_bytes, codec)

    def verify(self, i: int) -> str:
        """Read the write back through format's readers: every file's
        footer and block checksums, the line count and bytes, and the
        sidecar's row count. Runs after the write's timing stops."""
        from fourmc_spark.format import decompress_file
        from fourmc_spark.sources.datasource import STATS_SUFFIX

        codec = CODECS[i % 2][0]
        lines = nbytes = 0
        for p in data_files(self._dir(codec)):
            data = bytes(decompress_file(p, verify=True))
            n = data.count(b"\n")
            with open(p + STATS_SUFFIX) as f:
                meta = json.load(f)
            if meta.get("rows") != n or meta.get("size") != os.path.getsize(p):
                return f"{p}: sidecar rows/size {meta.get('rows')}/{meta.get('size')}"
            lines += n
            nbytes += len(data)
        if (lines, nbytes) != (self.n_rows, self.raw_bytes):
            return f"{codec}: read back {lines} lines / {nbytes} B, expected {self.n_rows} / {self.raw_bytes}"
        self.written[codec] = sum(stored_bytes(self._dir(codec))) / self.raw_bytes
        return ""

    def post_check(self, spark) -> str:
        for codec, *_ in CODECS:
            n = spark.read.format("fourmc").load(self._dir(codec)).count()
            if n != self.n_rows:
                return f"{codec}: spark read-back count {n}, expected {self.n_rows}"
        return ""

    def stored_ratio(self) -> float:
        return sum(self.written.values()) / len(self.written)

    def layer_files(self):
        return [(p, c, lv) for c, lv, _ in CODECS for p in data_files(self._dir(c))]

    def read_spec(self, i: int) -> ReadSpec:
        return ReadSpec({"path": self._dir(CODECS[i % 2][0])}, [], self.n_rows)

    def sink_input(self):
        opts = {"path": os.path.join(self.work, "sink_probe"),
                **self.sink_options("lz4", "fast")}
        return opts, [pa.RecordBatch.from_arrays([self.rows.slice(0, 60_000)], ["value"])]


WORKLOADS = {w.name: w for w in (ScanText, LookupPruned, IngestSink)}
