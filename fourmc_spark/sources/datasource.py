"""Spark Python DataSource for splittable 4mc/4mz files.

The PySpark-native equivalent of the reference's Hadoop input/output
formats (SURVEY.md §2.1 S1-S8 / K1-K3):

* **planning** (driver): one ranged tail read per file loads the footer
  block index (`FourMcInputFormat.getSplits`,
  `FourMcInputFormat.java:126-173`); byte-range splits of
  ``maxPartitionBytes`` are aligned to block boundaries with the
  reference's arithmetic (`FourMcBlockIndex.java:142-173`).  Planning cost
  is O(files), never O(bytes) — the 100 TB posture.
* **pruning** (driver): one rule per sidecar kind (zone map, null
  count, bloom), applied to the sidecar's file summary, then to each
  block summary (:func:`_excluded`); conservative on any doubt.
* **packing** (driver): the kept slices are then packed into about one
  partition per core, so small files share a task instead of each
  paying a Python worker's fixed per-task cost. Target compressed bytes
  per partition = ``min(maxpartitionbytes, max(4 MiB, ceil(kept bytes /
  cores)))``, where cores is the session's ``defaultParallelism`` when
  the source was registered with :func:`fourmc_spark.session.register_fourmc`
  (else the CPUs usable by the planning process). Consecutive slices in
  plan order share a partition, so rows keep file and block order, and
  a partition never passes ``maxpartitionbytes`` or
  ``maxblockspersplit`` — never larger than a single-file split. O(slices),
  no option: packing only regroups slices, and the streaming reader
  plans each micro-batch with the same planner (see :func:`pack_slices`).
* **scan** (executors): each partition streams its slices' block ranges
  directly (blocks are self-delimiting), verifies xxh32 per block,
  decompresses with native lz4/zstd, splits lines with Hadoop LineRecordReader
  ownership semantics, and yields Arrow record batches
  (zero-copy into Spark's columnar pipeline).
* **sink**: per-task writers produce independent .4mc/.4mz files
  (header + <=4 MiB framed blocks + EOS + footer index) into a staging
  directory; a commit on the driver atomically renames them into place —
  the FileCommitProtocol pattern.

Usage::

    register_fourmc(spark)   # fourmc_spark.session; carries the slot count
    df = spark.read.format("fourmc").load("/data/logs")        # offset, value
    df.write.format("fourmc").option("codec", "zstd") \
        .option("level", "medium").save("/data/out")
"""

from __future__ import annotations

import datetime as _dt
import json as _json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    IntegerType, LongType, ShortType, StringType, StructField, StructType,
    TimestampType,
)

from fourmc_spark.format.core import CONTAINERS, container_for_codec
from fourmc_spark.format.reader import bounded_put

DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
# Cap on blocks per split: bounds a partition's UNCOMPRESSED size at
# maxblockspersplit * 4 MiB (the format's hard block cap, MAX_BLOCK_SIZE)
# regardless of compression ratio. Compressed-byte slicing alone is unsafe
# at scale: 128 MB of compressed highly-compressible text can be many GB
# uncompressed — one task, one OOM. 64 blocks => <= 256 MiB per task.
DEFAULT_MAX_BLOCKS_PER_SPLIT = 64
# every container extension the scan lists (format.core.CONTAINERS); the
# ones without a footer index are read whole, one partition per file
_EXTS = tuple(CONTAINERS)


def _list_files(path: str) -> list[str]:
    """Recursive listing, skipping hidden/_ files like
    FourMcInputFormat.listStatus (FourMcInputFormat.java:70-118).
    Glob patterns (Hadoop-path style: ``*``, ``?``, ``[...]``) expand to
    every matching file/dir; comma-separated paths union their listings
    (Hadoop ``FileInputFormat.setInputPaths`` semantics)."""
    if "," in path:
        out: list[str] = []
        for p in path.split(","):
            p = p.strip()
            if p:
                out.extend(_list_files(p))
        return out
    if any(ch in path for ch in "*?["):
        import glob as _glob

        out: list[str] = []
        for m in sorted(_glob.glob(path)):
            out.extend(_list_files(m))
        return out
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for fn in sorted(files):
            if fn.startswith((".", "_")):
                continue
            if fn.endswith(_EXTS):
                out.append(os.path.join(root, fn))
    return out


class Slice(NamedTuple):
    """One block-aligned byte range of one file. Carries no block list —
    the reader streams self-delimiting blocks, so slice metadata stays
    O(1) regardless of file size."""

    path: str
    codec: str
    start: int
    end: int
    # True for the slice holding the file's FIRST data block — the one
    # that owns the file's first line (drives header skip: skipfirstline)
    head: bool = False


@dataclass
class FourMcInputPartition(InputPartition):
    """One task's work: one or more slices, possibly of different files.
    The first slice is held inline (``path`` .. ``head``, the fields of
    :class:`Slice`); ``more`` holds the slices packed after it and is
    empty when nothing was packed. ``path == ""`` is the no-op partition
    an empty plan still needs."""

    path: str
    codec: str
    start: int
    end: int
    head: bool = False
    more: tuple = ()

    def slices(self) -> tuple[Slice, ...]:
        if not self.path:
            return ()
        first = Slice(self.path, self.codec, self.start, self.end, self.head)
        return (first, *self.more)


def iter_slices(parts) -> Iterator[Slice]:
    """Every slice of every planned partition, in partition order."""
    for p in parts:
        yield from p.slices()


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without CPU affinity
        return os.cpu_count() or 1


def pack_slices(
    sized: list[tuple[Slice, int]],
    max_bytes: int,
    max_blocks: int,
    cores: int | None = None,
) -> list[FourMcInputPartition]:
    """Pack ``(slice, block count)`` pairs into about one partition per
    core, so small files share a task instead of each paying the fixed
    per-task cost of a Python worker.

    The target is ``min(max_bytes, max(one block, ceil(total / cores)))``
    compressed bytes per partition (the shape of Spark's own
    ``FilePartition.maxSplitBytes``, with the 4 MiB block as the open
    cost), which splits the kept bytes into ``ceil(total / target)``
    even shares. One pass in plan order puts each slice with the share
    holding its midpoint, and starts a new partition at a share boundary
    or where the slice would pass ``max_bytes`` or ``max_blocks`` — so
    partitions are runs of consecutive slices (rows keep file and block
    order), a packed partition is never larger than a single-file split
    could already be, and packing costs O(slices)."""
    from fourmc_spark.format.core import MAX_BLOCK_SIZE

    if not sized:
        return [FourMcInputPartition("", "lz4", 0, 0)]
    total = sum(s.end - s.start for s, _ in sized)
    per_core = -(-total // (cores or _usable_cores()))
    shares = -(-total // min(max(max_bytes, 1), max(MAX_BLOCK_SIZE, per_core)))
    groups: list[list[Slice]] = []
    done = share = load = blocks = 0
    for s, nb in sized:
        size = s.end - s.start
        mid_share = (2 * done + size) * shares // (2 * total)
        done += size
        if (not groups or mid_share != share or load + size > max_bytes
                or blocks + nb > max_blocks):
            groups.append([])
            share, load, blocks = mid_share, 0, 0
        groups[-1].append(s)
        load += size
        blocks += nb
    return [FourMcInputPartition(*g[0], more=tuple(g[1:])) for g in groups]


class FourMcDataSource(DataSource):
    """name: ``fourmc``; schema: ``offset bigint, value string``."""

    # the session's default parallelism, the cores split packing aims
    # at; register_fourmc registers a subclass that sets it (None: the
    # planner falls back to the CPUs it may run on)
    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "fourmc"

    def schema(self) -> StructType:
        js = self.options.get("jsonschema") or self.options.get("csvschema")
        if js:
            # typed record scan (NDJSON or CSV lines): the payload lines
            # are parsed into these columns executor-side (Arrow
            # JSON/CSV kernels), which makes value predicates PUSHABLE —
            # combined with analyze_stats()/analyze_bloom() sidecars
            # they prune whole files and blocks
            fields = list(_parse_flat_ddl(js).fields)
        else:
            fields = [
                StructField("offset", LongType(), nullable=False),
                StructField("value", StringType(), nullable=True),
            ]
        # withoffset=true (typed mode): ALSO expose the owning block's
        # compressed offset as a pseudo-column — the key block stats are
        # sealed under (value mode always has it)
        if js and str(
            self.options.get("withoffset", "false")
        ).lower() == "true":
            fields.insert(
                0, StructField("offset", LongType(), nullable=False)
            )
        # partitioncolumns=c1[,c2...]: rebuild hive key=value path segments
        # as string columns (cast downstream as needed)
        for c in _partition_col_opt(self.options):
            fields.append(StructField(c, StringType(), nullable=True))
        if str(self.options.get("withfilename", "false")).lower() == "true":
            fields.append(StructField("_file", StringType(), nullable=False))
        names = [f.name for f in fields]
        if len(set(names)) != len(names):
            raise ValueError(
                "fourmc: duplicate column names in the scan schema "
                f"({names}) — jsonschema fields must not collide with "
                "partitioncolumns or the _file provenance column"
            )
        return StructType(fields)

    def reader(self, schema: StructType) -> "FourMcDataSourceReader":
        return FourMcDataSourceReader(self.options, schema, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> "FourMcDataSourceWriter":
        return FourMcDataSourceWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType):
        from fourmc_spark.sources.stream import FourMcStreamReader

        return FourMcStreamReader(self.options, schema, self.parallelism)

    def streamWriter(self, schema: StructType, overwrite: bool):
        from fourmc_spark.sources.stream import FourMcStreamWriter

        return FourMcStreamWriter(self.options, schema, overwrite)


class FourMcDataSourceReader(DataSourceReader):
    #: the format name option errors report
    source_name = "fourmc"
    #: whether the record model reads containers without a footer index
    #: (text lines do; protobuf records live only in 4mc/4mz blocks)
    reads_unindexed = True

    def __init__(
        self, options, schema: StructType, cores: int | None = None
    ) -> None:
        self._init_split_options(options, cores)
        # drop the first line of each FILE (header rows); resolved per
        # head-partition in the reader, so it is split-plan invariant
        self.skip_first = (
            str(options.get("skipfirstline", "false")).lower() == "true"
        )
        self.pcols = _partition_col_opt(options)
        # pushdown=false (parsed in _init_pruning_state): per-read
        # opt-out of ALL planning-time pruning. Spark 4.1.2 caches one
        # readInfo per relation instance
        # (PythonDataSourceV2.getOrCreateReadInfo): after a FILTERED
        # action on a base load() DataFrame, a later action on the SAME
        # DataFrame with fewer/different filters skips the pushdown
        # re-plan and silently reuses the pruned scan. Safe patterns:
        # call load() per query (planning is O(files)), keep one
        # filtered DataFrame per filter set, or set pushdown=false on
        # reads that will be reused with varying filters.
        self.with_file = (
            str(options.get("withfilename", "false")).lower() == "true"
        )
        js = options.get("jsonschema")
        cs = options.get("csvschema")
        if js and cs:
            raise ValueError(
                "fourmc source: jsonschema and csvschema are mutually "
                "exclusive (one record model per read)"
            )
        # json_schema is the TYPED-scan schema regardless of record
        # model (the shared pruning state keys off it); typed_fmt picks
        # the parser (NDJSON or CSV) in read()
        self.json_schema: StructType | None = (
            _parse_flat_ddl(js or cs) if (js or cs) else None
        )
        self.typed_fmt = "csv" if cs else "json"
        self.with_offset = (
            str(options.get("withoffset", "false")).lower() == "true"
        )
        self.columns = [f.name for f in schema.fields]
        # the offset pseudo-column prunes blocks only in the (offset,
        # value) mode; in typed mode routing it there would prune by
        # COMPRESSED BYTE offsets against record values
        self.offset_is_pseudo = self.json_schema is None
        # value zone-map constraints apply to the typed scan's declared
        # fields; bloom probes to the ones with a bloom family (the rule
        # every builder seals under)
        typed = self.json_schema.fields if self.json_schema is not None else []
        families = {f.name: bloom_family(f.dataType) for f in typed}
        self._init_pruning_state(
            options, [f.name for f in typed],
            {c: fam for c, fam in families.items() if fam},
        )

    def _init_split_options(self, options, cores: int | None) -> None:
        """The options every 4mc reader (this one and the protobuf
        reader) plans and decodes with."""
        self.cores = cores
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.source_name} source requires a path")
        self.max_partition_bytes = int(
            options.get("maxpartitionbytes", DEFAULT_MAX_PARTITION_BYTES)
        )
        self.max_blocks_per_split = int(
            options.get("maxblockspersplit", DEFAULT_MAX_BLOCKS_PER_SPLIT)
        )
        self.verify = str(options.get("verify", "true")).lower() != "false"

    def _init_pruning_state(
        self, options, zone_cols, bloom_typemap: dict[str, str]
    ) -> None:
        """Planning-time pruning state, filled by pushFilters(): an
        inclusive [lo, hi] constraint on the offset pseudo-column
        (hi=None = unbounded), per-partition-column allowed value sets,
        and per-column zone constraints, null-ness requirements and
        point sets on ``zone_cols``, checked against analyze_stats()
        sidecars. ``bloom_typemap`` maps the bloom-probe-able columns to
        their type family ('int' | 'str'); columns absent from it are
        never bloom-probed. Subclasses with their own __init__ (the
        protobuf reader) call this after setting ``pcols`` and
        ``offset_is_pseudo``, the rest of the state pushFilters()
        reads."""
        self._off_lo: int = 0
        self._off_hi: int | None = None
        self._pcol_allowed: dict[str, set] = {}
        # col -> [lo_value, lo_inclusive, hi_value, hi_inclusive]
        self._zone: dict[str, list] = {}
        # col -> intersected set of EqualTo/In point values, probed
        # against analyze_bloom sidecar bitmaps
        self._point: dict[str, set] = {}
        # col -> {"null", "notnull"} requirements (IsNull / IsNotNull /
        # null-safe equality), pruned via sidecar null counts
        self._nullreq: dict[str, set] = {}
        self.pushdown_enabled = (
            str(options.get("pushdown", "true")).lower() != "false"
        )
        self._zone_cols = frozenset(zone_cols)
        self._bloom_typemap = dict(bloom_typemap)

    def pushFilters(self, filters):
        """Planning-time pruning, the query-side payoff of the footer
        block index (reference X2/X3: FourMcBlockIndex.java:92-123
        binary search): a line's ``offset`` IS its owning block's
        compressed file offset, so offset range/equality predicates
        select exactly the matching blocks per file — Catalyst's
        partition pruning, driven by the same index the reference built
        for split alignment. Equality/IN predicates on hive partition
        columns prune whole files by path.

        Every filter is returned as partially-pushed: Spark re-applies
        them post-scan, so pruning can only remove provably-empty work —
        never change results.
        """
        from pyspark.sql.datasource import (
            EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In,
            IsNotNull, IsNull, LessThan, LessThanOrEqual, StringStartsWith,
        )

        if not self.pushdown_enabled:
            return filters  # record nothing: the scan never prunes

        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            # the offset pseudo-column exists only in the text source's
            # (offset, value) mode; the protobuf source's user-defined
            # schema may legally hold a payload field named "offset"
            if col == "offset" and self.offset_is_pseudo:
                v = getattr(flt, "value", None)
                if not isinstance(v, int) or isinstance(v, bool):
                    continue
                if isinstance(flt, (EqualTo, GreaterThan, GreaterThanOrEqual)):
                    lo = v + isinstance(flt, GreaterThan)
                    self._off_lo = max(self._off_lo, lo)
                if isinstance(flt, (EqualTo, LessThan, LessThanOrEqual)):
                    hi = v - isinstance(flt, LessThan)
                    self._off_hi = hi if self._off_hi is None else min(self._off_hi, hi)
            elif col in self.pcols:
                if isinstance(flt, EqualTo) and isinstance(flt.value, str):
                    vals = {flt.value}
                elif isinstance(flt, In) and all(
                    isinstance(x, str) for x in flt.value
                ):
                    vals = set(flt.value)
                else:
                    continue
                prev = self._pcol_allowed.get(col)
                self._pcol_allowed[col] = vals if prev is None else prev & vals
            elif col in self._zone_cols:
                # zone-map constraint on a typed payload column: file
                # pruning against analyze_stats sidecars. Number,
                # string, timestamp, and date bounds. Instant-typed
                # (TimestampType) filter values arrive as tz-aware UTC
                # datetimes (VariantVal.toPython) and are canonicalized
                # to EPOCH MICROS ints — comparable against the micros
                # the new sidecars store, session-timezone-free; naive
                # (TimestampNTZ) and date values stay Python objects
                # and are compared against PARSED sidecar ISO strings
                # (see _zone_pair), so sidecar text-format drift can
                # never flip an ordering.
                def _is_point(x):
                    # bloom-probe-able point value: int (not bool) or str
                    return (
                        isinstance(x, int) and not isinstance(x, bool)
                    ) or isinstance(x, str)

                def _take_points(vals: set):
                    prev = self._point.get(col)
                    self._point[col] = (
                        vals if prev is None else prev & vals
                    )

                if isinstance(flt, (IsNull, IsNotNull)):
                    # null-ness constraints prune from the sidecar null
                    # counts: a file/block with NO non-null values
                    # (min and max both null) yields nothing under
                    # IsNotNull; one with nulls == 0 yields nothing
                    # under IsNull. Both requirements on one column is
                    # unsatisfiable — partitions() plans nothing.
                    self._nullreq.setdefault(col, set()).add(
                        "null" if isinstance(flt, IsNull) else "notnull"
                    )
                    continue
                if isinstance(flt, StringStartsWith):
                    # prefix predicate == the range [v, next_prefix(v)):
                    # UTF-8 byte order equals code-point order, so the
                    # string zone bounds compare soundly
                    v = flt.value
                    if not isinstance(v, str) or not v:
                        continue
                    z = self._zone.setdefault(col, [None, True, None, True])
                    _tighten(z, 0, v, True)
                    hi = _next_prefix(v)
                    if hi is not None:
                        _tighten(z, 2, hi, False)
                    continue
                if isinstance(flt, EqualNullSafe):
                    # col <=> NULL matches exactly the null rows: that is
                    # an IsNull requirement; non-null values behave like
                    # EqualTo below (the class check tuples include it)
                    if getattr(flt, "value", None) is None:
                        self._nullreq.setdefault(col, set()).add("null")
                        continue
                if isinstance(flt, In):
                    # IN-list on a typed payload column: the exact set
                    # feeds the bloom probe, and [min, max] of the list
                    # is a valid conjunct relaxation for the zone tier.
                    # Same-class int or str lists only (mixed/temporal
                    # lists stay unpruned — conservative).
                    vals = list(flt.value)
                    if not (
                        vals
                        and all(map(_is_point, vals))
                        and len(set(map(_cls, vals))) == 1
                    ):
                        continue
                    _take_points(set(vals))
                    z = self._zone.setdefault(col, [None, True, None, True])
                    _tighten(z, 0, min(vals), True)
                    _tighten(z, 2, max(vals), True)
                    continue

                v = getattr(flt, "value", None)
                if isinstance(flt, (EqualTo, EqualNullSafe)) and _is_point(v):
                    _take_points({v})
                if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                    v = (
                        v.astimezone(_dt.timezone.utc)
                        - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                    ) // _dt.timedelta(microseconds=1)
                if not (_is_num(v) or isinstance(v, (str, _dt.date))):
                    continue  # (datetime is a date subclass: both pass)
                z = self._zone.setdefault(col, [None, True, None, True])
                if isinstance(flt, (EqualTo, EqualNullSafe)):
                    _tighten(z, 0, v, True)
                    _tighten(z, 2, v, True)
                elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
                    _tighten(z, 0, v, isinstance(flt, GreaterThanOrEqual))
                elif isinstance(flt, (LessThan, LessThanOrEqual)):
                    _tighten(z, 2, v, isinstance(flt, LessThanOrEqual))
        return filters

    def partitions(self) -> list[FourMcInputPartition]:
        # provably-unsatisfiable conjunctions plan NOTHING: point sets
        # intersected to empty (doc_id = 1 AND doc_id = 2, disjoint IN
        # lists) or a column required both null and not-null. Spark
        # still re-applies the filters on zero rows.
        unsat = any(not s for s in self._point.values()) or any(
            len(r) > 1 for r in self._nullreq.values()
        )
        return self.plan([] if unsat else _list_files(self.path))

    def plan(self, paths: list[str]) -> list[FourMcInputPartition]:
        """Slices of ``paths`` after every pruning tier, packed into
        about one partition per core (the batch and streaming readers'
        one split planner)."""
        return pack_slices(
            self._plan_slices(paths),
            self.max_partition_bytes,
            self.max_blocks_per_split,
            self.cores,
        )

    def _plan_slices(self, paths: list[str]) -> list[tuple[Slice, int]]:
        """Block-aligned slices of each file with their block counts:
        partition-path, zone-map, null-count and bloom pruning per file
        and per block, offset bisect, then block grouping."""
        # driver-side planning: one footer read per file (S1/X6)
        from fourmc_spark.format import core
        from fourmc_spark.format.reader import scan_file_info

        sized: list[tuple[Slice, int]] = []
        probes = _bloom_probes(self._point, self._bloom_typemap)
        for path in paths:
            if self._pcol_allowed:
                pvals = _partition_values_from_path(
                    path, list(self._pcol_allowed)
                )
                if any(
                    pvals.get(c) not in allowed
                    for c, allowed in self._pcol_allowed.items()
                ):
                    continue  # file pruned by partition-column predicate
            dropped_blocks = frozenset()
            if self._zone or self._nullreq or probes:
                meta = _load_zone_sidecar(path)
                if meta is not None:
                    dropped_blocks = _sidecar_dropped(
                        meta, self._zone, self._nullreq, probes
                    )
                    if dropped_blocks is None:
                        continue  # the file summary is excluded
            container = core.container_for_path(path)
            if container is not None and not container.indexed:
                if not self.reads_unindexed:
                    indexed = [e for e, c in CONTAINERS.items() if c.indexed]
                    raise ValueError(
                        f"{self.source_name} reads only {'/'.join(indexed)} "
                        f"files; {path} is a {container.ext} file"
                    )
                # non-splittable: one slice reads the whole stream
                fsize = os.path.getsize(path)
                if fsize:
                    sized.append((Slice(
                        path, container.slice_codec, 0, fsize, True
                    ), 1))
                continue
            codec, fsize, offsets = scan_file_info(path)
            if not offsets:
                continue  # empty file
            # Greedy block grouping under two bounds: compressed span
            # (maxpartitionbytes — the reference's Hadoop split-size
            # semantics) AND block count (maxblockspersplit — caps the
            # partition's uncompressed size at count * MAX_BLOCK_SIZE,
            # which compressed bytes alone cannot bound).
            step = max(self.max_partition_bytes, 1)
            maxb = max(self.max_blocks_per_split, 1)
            n = len(offsets)
            # offset-predicate block pruning (X2/X3 binary search): keep
            # only blocks whose offset can satisfy [lo, hi] — every line's
            # offset equals its owning block's offset, so this is exact
            i0, i1 = 0, n
            if self._off_lo > 0 or self._off_hi is not None:
                import bisect

                if self._off_lo > 0:
                    i0 = bisect.bisect_left(offsets, self._off_lo)
                if self._off_hi is not None:
                    i1 = bisect.bisect_right(offsets, self._off_hi)
                if i0 >= i1:
                    continue  # no block can produce a matching row
            # value-predicate block pruning (zone-map block tier): skip
            # blocks whose per-block [min, max] excludes the pushed
            # bounds. A partition's END may land on a dropped block —
            # the reader streams past `end` to finish a line that STARTS
            # inside the partition (Hadoop split spillover), so dropping
            # a block only removes the lines it OWNS, exactly the rows
            # the stats speak for.
            i = i0
            while i < i1:
                if offsets[i] in dropped_blocks:
                    i += 1
                    continue
                j = i + 1
                while (
                    j < i1
                    and j - i < maxb
                    and offsets[j] - offsets[i] < step
                    and offsets[j] not in dropped_blocks
                ):
                    j += 1
                astart = max(offsets[i], core.HEADER_SIZE)
                aend = offsets[j] if j < n else fsize
                if astart < aend:
                    sized.append(
                        (Slice(path, codec, astart, aend, i == 0), j - i)
                    )
                i = j
        return sized

    def slice_reader(self, names: list[str]):
        """The per-slice iterator the scan's :meth:`read` and the ANALYZE
        pass (``operators/maintenance._analyze_pass``) both read through,
        so sidecars hold exactly the values the scan yields: a function
        from a :class:`Slice` to its ``(block offsets, columns)`` batches,
        each line's owning block offset (``numpy.int64``; a stream
        container's is the line's stream position) and one Arrow array
        per name in *names*, typed columns of the declared schema in a
        typed scan, else ``value`` (the line text).

        Arrow's JSON/CSV kernels parse each micro-batch in C; explicit
        schemas pin types so output never depends on inference (absent
        fields come back NULL). Only *names* enter the parser's explicit
        schema / include_columns, and the parser is built once here —
        never per batch."""
        import pyarrow as pa

        from fourmc_spark.format.reader import iter_line_batches

        if self.json_schema is None:
            parser = None
        elif self.typed_fmt == "csv":
            parser = _TypedCsvParser(self.json_schema, names)
        else:
            parser = _TypedNdjsonParser(self.json_schema, names)

        def _cast_lines(arr: "pa.Array") -> "pa.Array":
            try:
                return arr.cast(pa.string())
            except pa.ArrowInvalid:
                return pa.array(
                    [v.as_py().decode("utf-8", "replace") for v in arr]
                )

        def batches(sl: Slice):
            # every codec: Arrow line batches, never a per-line Python loop
            drop_first = self.skip_first and sl.head
            with open(sl.path, "rb") as f:
                for offs, lines in iter_line_batches(
                    f, sl.codec, sl.start, sl.end, verify=self.verify
                ):
                    if drop_first and len(lines) > 0:
                        drop_first = False
                        offs = offs[1:]
                        lines = lines.slice(1)
                        if len(lines) == 0:
                            continue
                    if parser is not None:
                        yield offs, _parse_lines(parser, lines)
                    else:
                        yield offs, [_cast_lines(lines)] if names else []

        return batches

    def read(self, partition: FourMcInputPartition):
        import pyarrow as pa

        typed = self.json_schema is not None
        want_offset = "offset" in self.columns and (
            not typed or self.with_offset
        )
        if typed:
            declared = {f.name for f in self.json_schema.fields}
            names = [c for c in self.columns if c in declared]
        else:
            names = [c for c in ("value",) if c in self.columns]
        # hive partition columns wanted in the output: constant per file
        want_pcols = [c for c in self.pcols if c in self.columns]
        want_file = self.with_file and "_file" in self.columns
        batches = self.slice_reader(names)
        # a packed partition spans files: the hive values, _file and the
        # skipfirstline head flag are per slice
        for sl in partition.slices():
            pvals = (
                _partition_values_from_path(sl.path, want_pcols)
                if want_pcols
                else {}
            )
            for offs, arrays in batches(sl):
                n = len(offs)
                cols, out = list(arrays), list(names)
                if want_offset:
                    cols.insert(0, pa.array(offs, type=pa.int64()))
                    out.insert(0, "offset")
                for c in want_pcols:
                    v = pvals.get(c)
                    cols.append(
                        pa.nulls(n, type=pa.string())
                        if v is None
                        else pa.array([v] * n, type=pa.string())
                    )
                    out.append(c)
                if want_file:
                    cols.append(pa.array([sl.path] * n, type=pa.string()))
                    out.append("_file")
                yield pa.RecordBatch.from_arrays(cols, names=out)


def _partition_col_opt(options) -> list[str]:
    return [
        c.strip()
        for c in options.get("partitioncolumns", "").split(",")
        if c.strip()
    ]


def _parse_flat_ddl(ddl: str) -> StructType:
    """Context-free parser for the flat ``name type, name type`` DDL the
    typed scan supports (StructType.fromDDL needs a live SparkContext,
    which the data source worker process does not have). Nested types
    are out of scope by design — they are also unsupported by the typed
    scan itself (see _arrow_schema_for)."""
    from pyspark.sql import types as T

    by_name = {
        "bigint": T.LongType(), "long": T.LongType(),
        "int": T.IntegerType(), "integer": T.IntegerType(),
        "smallint": T.ShortType(), "short": T.ShortType(),
        "double": T.DoubleType(),
        "float": T.FloatType(), "real": T.FloatType(),
        "string": T.StringType(), "varchar": T.StringType(),
        "boolean": T.BooleanType(), "bool": T.BooleanType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }
    fields = []
    for part in ddl.split(","):
        toks = part.strip().split()
        if len(toks) != 2:
            raise ValueError(
                f"fourmc jsonschema: expected 'name type' pairs, got "
                f"{part.strip()!r} (nested/parameterized types are not "
                "supported — use value mode + from_json)"
            )
        name, tname = toks[0].strip("`"), toks[1].lower()
        if tname not in by_name:
            raise ValueError(
                f"fourmc jsonschema: unsupported type {toks[1]!r} for "
                f"column {name!r} — supported: {sorted(by_name)}"
            )
        fields.append(StructField(name, by_name[tname], nullable=True))
    if not fields:
        raise ValueError("fourmc jsonschema: empty schema")
    return StructType(fields)


def _arrow_schema_for(st: StructType):
    """Arrow explicit_schema for the typed NDJSON scan, plus the
    post-parse casts the raw parse can't express. Only types whose JSON
    representation parses unambiguously are supported; anything else
    should stay in ``value`` mode and be parsed with from_json.

    Returns ``(parse_schema, post_casts)``: DATE columns parse as
    STRING (Arrow's JSON reader accepts only epoch-day numbers for
    date32, but the sink/to_json pipeline writes ISO strings) and are
    cast to date32 afterwards — the string→date32 cast kernel does
    accept ISO text. Timestamp columns parse as naive microseconds:
    Arrow normalizes zone-suffixed text ("...Z", "...+05:00") to the
    UTC wall clock and passes zone-less text through, which matches
    from_json exactly when the session timezone is UTC (the to_json
    pipeline always writes zone-suffixed UTC text, so its data is
    unambiguous under any session timezone)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    mapping = [
        (T.LongType, pa.int64()),
        (T.IntegerType, pa.int32()),
        (T.ShortType, pa.int16()),
        (T.DoubleType, pa.float64()),
        (T.FloatType, pa.float32()),
        (T.StringType, pa.string()),
        (T.BooleanType, pa.bool_()),
        (T.DateType, pa.date32()),
        (T.TimestampNTZType, pa.timestamp("us")),
        (T.TimestampType, pa.timestamp("us")),
    ]
    fields = []
    post_casts: dict[str, "pa.DataType"] = {}
    for f in st.fields:
        for spark_t, arrow_t in mapping:
            if isinstance(f.dataType, spark_t):
                if arrow_t == pa.date32():
                    fields.append(pa.field(f.name, pa.string()))
                    post_casts[f.name] = arrow_t
                else:
                    fields.append(pa.field(f.name, arrow_t))
                break
        else:
            raise ValueError(
                f"fourmc jsonschema: unsupported type {f.dataType} for "
                f"column {f.name!r} — use value mode + from_json for it"
            )
    return pa.schema(fields), post_casts


def _float_cols_of(st: StructType) -> list[str]:
    from pyspark.sql import types as T

    return [
        f.name for f in st.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
    ]


def _unquote_float_specials(ndjson: bytes, float_cols: list[str]) -> bytes:
    """Rewrite quoted non-finite float tokens to bare JSON tokens for
    the DECLARED float/double keys only: Spark's to_json serializes
    NaN/Infinity doubles as the quoted strings "NaN"/"Infinity"/
    "-Infinity", which Arrow's typed parse rejects ('changed from
    number to string'). The lookbehind keeps the rewrite out of string
    VALUES: inside a JSON string every quote is escaped, so an
    unescaped "key": match can only be a real object key."""
    import re

    for c in float_cols:
        key = re.escape(_json.dumps(c))
        ndjson = re.sub(
            (r'(?<!\\)(' + key + r'\s*:\s*)"(NaN|Infinity|\+Infinity'
             r'|-Infinity)"').encode(),
            rb"\1\2",
            ndjson,
        )
    return ndjson


class _TypedNdjsonParser:
    """One Arrow C-side parse of an NDJSON buffer against the declared
    flat schema, producing FINAL-typed combined arrays for ``want``
    (post-parse casts applied). Built ONCE per scan partition / sink
    task — the schema filtering, Arrow schema, and ParseOptions are
    hot-path-invariant, so they must not be rebuilt per micro-batch.

    On the quoted-NaN/Infinity ArrowInvalid (Spark's to_json serializes
    non-finite doubles as quoted strings), retries once after rewriting
    those tokens for the declared float columns; every parse failure
    raises one ValueError naming the value-mode + from_json fallback,
    whatever columns the schema declares."""

    #: the record model's all-null line (see :func:`_parse_lines`)
    empty_line = "{}"

    def __init__(self, st: StructType, want: list[str]) -> None:
        import pyarrow as pa
        import pyarrow.json as pj

        self.want = list(want)
        sub = StructType([f for f in st.fields if f.name in self.want])
        self.schema, self.post_casts = _arrow_schema_for(sub)
        self.float_cols = _float_cols_of(sub)
        self.opts = pj.ParseOptions(
            explicit_schema=self.schema, unexpected_field_behavior="ignore"
        )
        # date columns primarily parse as STRING (to_json writes ISO
        # text, which Arrow's date32 JSON parse rejects), but data that
        # predates the string path — or any producer writing epoch-day
        # NUMBERS, the one form Arrow's date32 parse accepts natively —
        # must keep reading: a retry schema parses dates as date32
        # directly (no post-cast). Mixed representations for one
        # column inside one buffer stay unsupported (both parses fail;
        # the error names the value-mode fallback).
        self.date_retry_opts = None
        if any(t == pa.date32() for t in self.post_casts.values()):
            native = [
                pa.field(f.name, pa.date32())
                if self.post_casts.get(f.name) == pa.date32()
                else f
                for f in self.schema
            ]
            self.date_retry_opts = pj.ParseOptions(
                explicit_schema=pa.schema(native),
                unexpected_field_behavior="ignore",
            )

    def _parse(self, ndjson):
        """The parse-attempt ladder: primary schema; then (as needed)
        quoted-NaN rewrite, epoch-day-number dates, and both at once."""
        import pyarrow as pa
        import pyarrow.json as pj

        try:
            return pj.read_json(
                pa.BufferReader(ndjson), parse_options=self.opts
            ), False
        except pa.ArrowInvalid as e:
            err = e
        raw = ndjson if isinstance(ndjson, bytes) else ndjson.to_pybytes()
        attempts = []
        if self.float_cols:
            fixed = _unquote_float_specials(raw, self.float_cols)
            attempts.append((fixed, self.opts, False))
        if self.date_retry_opts is not None:
            attempts.append((raw, self.date_retry_opts, True))
            if self.float_cols:
                attempts.append((fixed, self.date_retry_opts, True))
        for buf, opts, native_dates in attempts:
            try:
                return pj.read_json(
                    pa.BufferReader(buf), parse_options=opts
                ), native_dates
            except pa.ArrowInvalid as e:
                err = e
        raise ValueError(
            "fourmc jsonschema: typed parse failed under every supported "
            "representation (ISO-string or epoch-day-number dates, quoted "
            "NaN/Infinity floats normalized) — read in value mode and "
            "parse with from_json instead"
        ) from err

    def arrays(self, ndjson) -> list:
        """Final-typed pa.Array per ``want`` column, chunks combined."""
        import pyarrow as pa

        if not isinstance(ndjson, (bytes, pa.Buffer)):
            raise TypeError("ndjson must be bytes or an Arrow buffer")
        tbl, native_dates = self._parse(ndjson)
        out = []
        for c in self.want:
            col = tbl.column(c).combine_chunks()
            tgt = self.post_casts.get(c)
            if tgt is not None and not (native_dates and tgt == pa.date32()):
                col = col.cast(tgt)
            out.append(col)
        return out


class _TypedCsvParser:
    """CSV twin of :class:`_TypedNdjsonParser` (the ``csvschema`` scan
    option): one Arrow C-side CSV parse per buffer against the declared
    flat schema. CSV is POSITIONAL — the DDL declares every on-disk
    column in order; ``want`` selects the parsed subset.

    Conventions match Spark's ``to_csv``/``from_csv`` defaults: comma
    separator, ``"`` quotes with ``\\`` escapes, empty unquoted field =
    NULL, quoted ``\"\"`` also reads back NULL (from_csv cannot tell
    them apart either). Timestamp columns parse as STRING and cast
    after a trailing-``Z`` strip (to_csv writes Z-suffixed UTC; Arrow's
    timestamp cast refuses zone offsets), matching from_csv under the
    UTC session convention the typed tier documents. KNOWN divergence:
    a ``\\`` in an UNQUOTED field is treated as an escape by Arrow but
    as a literal by from_csv — data with raw unquoted backslashes
    should stay in value mode + from_csv (ANALYZE sidecars are built
    THROUGH this parser, so pruning always agrees with the scan either
    way). Embedded newlines cannot roundtrip in ANY CSV-line
    consumer of this container (the record model is LINES; to_csv
    quotes the newline but the line reader splits on it) — use the
    JSON record model for such data."""

    def __init__(self, st: StructType, want: list[str]) -> None:
        import pyarrow as pa
        import pyarrow.csv as pcsv
        from pyspark.sql import types as T

        self.want = list(want)
        self.all_names = [f.name for f in st.fields]
        # empty VALUE lines must parse as all-null rows (the sink writes
        # NULL rows that way): a line of n-1 bare commas is n null
        # fields. The 1-column case uses '""' (quoted empty, which
        # quoted_strings_can_be_null reads as NULL) — an EMPTY placeholder
        # would vanish when it lands as the buffer's unterminated final
        # line (Arrow doesn't count a trailing empty line: row loss).
        n = len(self.all_names)
        self.empty_line = '""' if n == 1 else "," * (n - 1)
        sub = StructType([f for f in st.fields if f.name in self.want])
        # reuse the NDJSON type mapping for validation; timestamps join
        # dates on the parse-as-string + post-cast path (CSV text is
        # Z-suffixed, which the cast kernel refuses until stripped)
        schema, post = _arrow_schema_for(sub)
        self.post_casts = dict(post)
        col_types = {}
        for f in schema:
            if pa.types.is_timestamp(f.type):
                col_types[f.name] = pa.string()
                self.post_casts[f.name] = f.type
            else:
                col_types[f.name] = f.type
        self.read_opts = pcsv.ReadOptions(column_names=self.all_names)
        self.parse_opts = pcsv.ParseOptions(
            quote_char='"',
            double_quote=False,
            escape_char="\\",
            newlines_in_values=False,
            ignore_empty_lines=False,
        )
        self.convert_opts = pcsv.ConvertOptions(
            column_types=col_types,
            include_columns=self.want,
            null_values=[""],
            strings_can_be_null=True,
            quoted_strings_can_be_null=True,  # from_csv: "" is NULL too
        )

    def arrays(self, buf) -> list:
        """Final-typed pa.Array per ``want`` column, chunks combined."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.csv as pcsv

        if not isinstance(buf, (bytes, pa.Buffer)):
            raise TypeError("csv buffer must be bytes or an Arrow buffer")
        try:
            tbl = pcsv.read_csv(
                pa.BufferReader(buf),
                read_options=self.read_opts,
                parse_options=self.parse_opts,
                convert_options=self.convert_opts,
            )
            out = []
            for c in self.want:
                col = tbl.column(c).combine_chunks()
                tgt = self.post_casts.get(c)
                if tgt is not None:
                    if pa.types.is_timestamp(tgt):
                        col = pc.replace_substring_regex(col, "Z$", "")
                    col = col.cast(tgt)
                out.append(col)
            return out
        except pa.ArrowInvalid as e:
            raise ValueError(
                "fourmc csvschema: typed CSV parse failed (malformed "
                "rows, zone offsets other than Z, or unquoted escapes) "
                "— read in value mode and parse with from_csv instead"
            ) from e


def _parse_lines(parser, lines: "pa.Array") -> list:
    """Final-typed arrays of ``parser``'s columns for an Arrow array of
    record lines (binary or string). Empty and NULL lines become the
    parser's ``empty_line`` first, so they parse as all-null rows like
    from_json('') / from_csv('') — Arrow's readers would skip or reject
    them, losing the NULL rows the sink writes as empty lines. The
    lines are joined C-side (one-list binary_join), never per line in
    Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    strs = lines.cast(pa.string())
    if strs.null_count:
        strs = pc.fill_null(strs, parser.empty_line)
    strs = pc.if_else(
        pc.equal(pc.binary_length(strs), 0), pa.scalar(parser.empty_line),
        strs,
    )
    la = pa.ListArray.from_arrays(
        pa.array([0, len(strs)], type=pa.int32()), strs
    )
    return parser.arrays(pc.binary_join(la, "\n")[0].as_buffer())


# per-file pruning sidecar; its layout and builders: seal_sidecar
STATS_SUFFIX = ".stats.json"


def _is_num(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _zone_comparable(a, b) -> bool:
    """Same-ordering check for two SIDECAR values (JSON primitives):
    number vs number, str vs str. Used by the compaction stats carry to
    refuse min/max across inputs analyzed under different DDLs. (Bound
    vs sidecar comparisons go through _zone_pair, which also parses
    temporal ISO strings.)"""
    return (_is_num(a) and _is_num(b)) or (
        isinstance(a, str) and isinstance(b, str)
    )


def _zone_pair(stat, bv):
    """Normalize a (sidecar stat value, pushed bound value) pair into
    two directly comparable objects, or None when no ordering is
    provably shared (conservative — the file/block is scanned).

    Shared orderings: number vs number (covers TimestampType bounds,
    canonicalized to epoch micros by pushFilters, against the micros
    ints new sidecars store); str vs str; a naive-datetime bound
    (TimestampNTZ) or date bound against a sidecar ISO string, PARSED
    before comparing so text-format drift (variable fraction digits,
    'T' vs ' ' separator, old sidecars) can never flip an ordering.
    A TimestampType bound against an OLD sidecar's wall-clock string is
    deliberately incomparable — those strings are session-timezone
    wall times with no zone recorded; re-ANALYZE writes micros."""
    if _is_num(stat) and _is_num(bv):
        return stat, bv
    if isinstance(bv, _dt.datetime):  # naive NTZ bound (aware→micros already)
        if isinstance(stat, str):
            try:
                s = _dt.datetime.fromisoformat(stat)
            except ValueError:
                return None
            if s.tzinfo is not None:
                return None
            return s, bv
        return None
    if isinstance(bv, _dt.date):
        if isinstance(stat, str):
            try:
                return _dt.date.fromisoformat(stat), bv
            except ValueError:
                return None
        return None
    if isinstance(stat, str) and isinstance(bv, str):
        return stat, bv
    return None


def _cls(x):
    """Ordering class of a pushed bound value: numbers (False),
    strings (True), timestamps, dates. Only same-class values compare."""
    if isinstance(x, _dt.datetime):
        return "ts"
    if isinstance(x, _dt.date):
        return "date"
    return isinstance(x, str)


def _tighten(bound: list, side: int, v, inclusive: bool) -> None:
    """Narrow one side of a zone bound ``[lo, lo_inc, hi, hi_inc]``
    (``side`` 0 = lo, 2 = hi) to *v* when *v* is tighter: larger for lo,
    smaller for hi, or equal and exclusive. A *v* whose ordering class
    differs from the bound it would replace leaves the bound as it is
    (conservative: a looser bound prunes less)."""
    old = bound[side]
    if old is not None and _cls(old) != _cls(v):
        return
    if (
        old is None
        or (v > old if side == 0 else v < old)
        or (v == old and not inclusive)
    ):
        bound[side], bound[side + 1] = v, inclusive


#: parsed-sidecar cache — the SAME freshness contract as the
#: footer-index cache in format/reader.scan_file_info: keyed on
#: (sidecar size, sidecar mtime_ns, data size), and every hit ALSO
#: re-reads a small content fingerprint (first+last bytes of the
#: sidecar), because stat() alone is spoofable (cp -p / rsync -t /
#: same-tick rewrites) and serving a stale parsed zone map could
#: falsely prune files. Bloom-fattened sidecars cost ~300 µs to parse
#: (measured, scripts/measure_bloom_planning.py: the 175 KB base64
#: string dominates json.loads); the fingerprint pread is ~10 µs.
#: Stale/invalid sidecars negative-cache (the _STALE sentinel) so a
#: rewritten-but-not-re-ANALYZEd tree doesn't re-parse every fat
#: sidecar on every plan. Bounded like the sibling cache, by
#: ``bounded_put``'s random eviction (a fat sidecar parses to ~200 KB,
#: so 2048 entries tops out ~400 MB on the driver — small next to the
#: O(files) split plan).
_SIDECAR_CACHE: dict[str, tuple[tuple, bytes, object]] = {}
_SIDECAR_CACHE_MAX = 2048
_SIDECAR_FP_BYTES = 32
_STALE = object()  # negative-cache sentinel: sidecar present but unusable


def _sidecar_fingerprint(f, size: int) -> bytes:
    f.seek(0)
    head = f.read(_SIDECAR_FP_BYTES)
    f.seek(max(0, size - _SIDECAR_FP_BYTES))
    return head + f.read(_SIDECAR_FP_BYTES)


def _load_zone_sidecar(path: str):
    """The file's sidecar, or None when missing, unreadable, not a JSON
    object, or STALE (recorded size != current size — the data was
    rewritten after it was sealed). The one validity rule: the planner,
    ``sidecar_health``, compaction and the builders that amend or keep
    a sidecar's tiers all read through it. The dict returned is the
    cache's own — copy it before changing it."""
    import json

    sc = path + STATS_SUFFIX
    try:
        st = os.stat(sc)
        data_size = os.path.getsize(path)
    except OSError:
        return None
    key = (st.st_size, st.st_mtime_ns, data_size)
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[0] == key:
        try:
            with open(sc, "rb") as f:
                if _sidecar_fingerprint(f, st.st_size) == hit[1]:
                    meta = hit[2]
                    return None if meta is _STALE else meta
        except OSError:
            return None
    try:
        with open(sc, "rb") as f:
            raw = f.read()
        meta = json.loads(raw)
        if not isinstance(meta, dict) or meta.get("size") != data_size:
            meta = _STALE
    except (OSError, ValueError):
        return None
    fp = (
        raw[:_SIDECAR_FP_BYTES]
        + raw[max(0, len(raw) - _SIDECAR_FP_BYTES):]
    )
    bounded_put(_SIDECAR_CACHE, _SIDECAR_CACHE_MAX, path, (key, fp, meta))
    return None if meta is _STALE else meta


def _range_excluded(mn, mx, bound) -> bool:
    """True iff a column whose values span [mn, mx] provably cannot
    satisfy the (lo, lo_inc, hi, hi_inc) bound conjunction. min/max of
    None means the span holds no non-null value — range and equality
    predicates reject NULL, so nothing can match."""
    lo, lo_inc, hi, hi_inc = bound
    if mn is None or mx is None:
        return True
    if lo is not None:
        p = _zone_pair(mx, lo)
        if p is not None and (p[0] < p[1] or (p[0] == p[1] and not lo_inc)):
            return True
    if hi is not None:
        p = _zone_pair(mn, hi)
        if p is not None and (p[0] > p[1] or (p[0] == p[1] and not hi_inc)):
            return True
    return False


#: bloom sidecar hash contract: XXH64 of each value's canonical text
#: (CAST AS STRING, UTF-8 — bloom_hashes) with Spark's xxhash64 seed 42,
#: double-hashed into k positions (h1 + i*h2) mod bits where h1 = low
#: 32 bits, h2 = high 32 bits | 1 (bloom_set_bits); bit p sits at byte
#: p >> 3, mask 1 << (p & 7). The probe recognizes exactly this tag —
#: sidecars written under any future contract are ignored
#: (conservative: the file is scanned).
BLOOM_ALGO = "xxh64-str"
BLOOM_SEED = 42


def _next_prefix(v: str) -> str | None:
    """Smallest string greater than every string with prefix *v* (an
    EXCLUSIVE upper bound for StartsWith), or None when no such string
    exists (all code points at the max). Walks from the end, bumping
    the first incrementable code point and truncating the rest;
    surrogate-range successors are skipped (unencodable in UTF-8, and
    0xE000 is the next real code point — order-safe either way)."""
    for i in range(len(v) - 1, -1, -1):
        cp = ord(v[i])
        nxt = cp + 1
        if nxt == 0xD800:  # skip the surrogate block entirely
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return v[:i] + chr(nxt)
    return None


def bloom_positions(h: int, k: int, bits: int):
    """THE position derivation, walked by the probe per value (every
    builder applies it to whole hash arrays through
    :func:`bloom_set_bits`, pinned equal to this by a property test):
    double hashing with h1 = low 32 bits, h2 = high 32 bits | 1,
    position_i = (h1 + i*h2) mod bits. Any drift between a builder and
    the probe would silently mis-prune under the same contract tag —
    this helper exists so there is exactly one derivation to drift."""
    h1 = h & 0xFFFFFFFF
    h2 = (h >> 32) | 1
    for i in range(k):
        yield (h1 + i * h2) % bits


def bloom_set_bits(bitmap: "np.ndarray", hashes: "np.ndarray", k: int,
                   bits: int) -> None:
    """:func:`bloom_positions` for a whole ``uint64`` hash array at once:
    sets bit ``(h1 + i*h2) % bits`` for every hash and every ``i < k``
    in the packed ``uint8`` bitmap (bit p at byte p >> 3, mask
    1 << (p & 7)), in place. Pinned equal to the scalar derivation by a
    property test."""
    import numpy as np

    u = np.uint64
    h1 = hashes & u(0xFFFFFFFF)
    h2 = (hashes >> u(32)) | u(1)
    for i in range(k):
        # h1 + i*h2 < 17 * 2^32: no uint64 wrap for any legal k
        p = (h1 + u(i) * h2) % u(bits)
        np.bitwise_or.at(
            bitmap, (p >> u(3)).astype(np.intp),
            np.left_shift(1, p & u(7)).astype(np.uint8),
        )


def bloom_hashes(values: "pa.Array") -> "np.ndarray":
    """The ``uint64`` bloom hashes of an Arrow array's distinct non-null
    values: cast to their canonical text (Arrow's int -> string cast is
    the decimal text of CAST AS STRING and of the probe's ``str()``),
    then one XXH64 pass over the buffers. Every builder turns values
    into bloom hashes here, and only here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from fourmc_spark.format.native import xxh64_array

    uniq = pc.unique(pc.drop_null(values.cast(pa.string())))
    return xxh64_array(uniq, BLOOM_SEED)


def seal_bloom_spec(bitmap: bytes, bits: int, k: int, fam: str) -> dict:
    """The sidecar bloom spec dict every builder seals: contract tag,
    geometry, the build-time type FAMILY ('int' | 'str' — the probe
    refuses a spec whose family differs from the read schema's, because
    a DDL drift between build and read could hash different canonical
    text for the same data), and the base64 bitmap."""
    import base64

    return {
        "algo": BLOOM_ALGO,
        "seed": BLOOM_SEED,
        "bits": bits,
        "k": k,
        "fam": fam,
        "b64": base64.b64encode(bitmap).decode("ascii"),
    }


def seal_bloom_blocks_header(
    bits: int, k: int, fams: dict, entries: list
) -> dict:
    """The sidecar ``bloom_blocks`` header every builder (and the
    compaction carry) seals: one shared geometry + per-column family
    map, with per-block per-column base64 bitmaps under ``blocks``."""
    return {
        "algo": BLOOM_ALGO,
        "seed": BLOOM_SEED,
        "bits": bits,
        "k": k,
        "fam": dict(fams),
        "blocks": entries,
    }


def validate_bloom_geometry(
    bits: int, k: int, what: str, max_bits: int = 1 << 27
) -> None:
    """Shared geometry validation for every bloom builder."""
    if bits % 8 or not 64 <= bits <= max_bits:
        raise ValueError(
            f"{what}: bits must be a multiple of 8 in [64, "
            f"2^{max_bits.bit_length() - 1}], got {bits}"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"{what}: k must be in [1, 16], got {k}")


def _bloom_block_entries(blocks: dict, cols, bits: int) -> list:
    """The ``blocks`` list of a ``bloom_blocks`` header: offset -> {col:
    packed ``uint8`` bitmap} in offset order, each column base64-encoded;
    a column a block holds no bitmap for seals all-zero (no value)."""
    import base64

    zero = bytes(bits // 8)
    return [
        {"o": o, "c": {
            c: base64.b64encode(
                blocks[o][c].tobytes() if c in blocks[o] else zero
            ).decode("ascii")
            for c in cols
        }}
        for o in sorted(blocks)
    ]


def bloom_family(dtype) -> str | None:
    """The Spark type -> bloom type family rule every builder seals under
    and the reader probes with: 'int' for long/int/short, 'str' for
    string, None for the types no bloom is built for. Their CAST AS
    STRING is the text Python's str() gives a probe value, so build and
    probe hash the same bytes."""
    if isinstance(dtype, (LongType, IntegerType, ShortType)):
        return "int"
    return "str" if isinstance(dtype, StringType) else None


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


#: a span whose every value is NaN, as :func:`zone_merge` takes it
_NAN_SPAN = (float("nan"), float("nan"), 0)


def zone_merge(spans) -> dict:
    """The zone-map merge every builder seals min/max/nulls with: spans
    of ``(min, max, nulls)`` -> ``{"min", "max", "nulls"}`` under Spark's
    ordering, where NaN is greater than every double (``x >= k`` matches
    a NaN row): a NaN max wins, and NaN is the min only when every min
    is NaN. Python's bare min/max depend on argument order around NaN
    ([nan, 1] -> nan but [1, nan] -> 1). A None min/max is a span with
    no value; both are None when no span holds one. A None nulls is
    unknown, and so is the merged count then."""
    mns, mxs, nulls = [], [], 0
    for mn, mx, n in spans:
        if mn is not None:
            mns.append(mn)
        if mx is not None:
            mxs.append(mx)
        nulls = None if n is None or nulls is None else nulls + int(n)
    real = [v for v in mns if not _is_nan(v)]
    return {
        "min": min(real) if real else (float("nan") if mns else None),
        "max": float("nan") if any(map(_is_nan, mxs))
        else max(mxs, default=None),
        "nulls": nulls,
    }


def zone_spans(col: "pa.Array", dtype) -> list:
    """The zone-map kernel every builder computes min/max/nulls with: one
    Arrow array of a column declared *dtype* -> its ``(min, max, nulls)``
    spans for :func:`zone_merge`, values already in sidecar form. The
    one type -> sidecar value rule: TimestampType is epoch micros from
    the array's int64 cast (the instant, whatever timezone the array is
    tagged with), timestamp_ntz and date are ISO text, everything else
    is its Python value (float32 widened exactly). Arrow's min_max skips
    NaN but Spark orders NaN above every double, so NaN is a span of
    its own (:data:`_NAN_SPAN`). No per-value Python: one min_max, plus
    one is_nan sum on floats and one zero-copy cast on timestamps."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spans = []
    n = len(col) - col.null_count
    if isinstance(dtype, TimestampType):
        col = col.cast(pa.int64())
    elif n and pa.types.is_floating(col.type):
        n_nan = pc.sum(pc.is_nan(col)).as_py() or 0
        if n_nan:
            spans.append(_NAN_SPAN)
            n -= n_nan
    mn = mx = None
    if n:
        mm = pc.min_max(col)
        mn, mx = (_sidecar_value(mm[e].as_py()) for e in ("min", "max"))
    return [(mn, mx, col.null_count), *spans]


def _sidecar_value(v):
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    return v.isoformat() if isinstance(v, _dt.date) else v


def seal_sidecar(path: str, fields: dict) -> None:
    """The one sidecar writer: ``<path>.stats.json`` for data file *path*
    is ``{"version": 2, "size": <path's byte size>}`` followed by
    *fields* in the caller's order, written whole or not at all.

    The v2 layout. Every key after ``size`` is optional, and the reader
    (:func:`_load_zone_sidecar` -> :func:`_summaries`) skips what it
    cannot use:

    * ``version`` int: 2.
    * ``size`` int: the data file's byte size when sealed. A sidecar
      whose size is not the file's is stale and never read.
    * ``rows`` int: the file's row count.
    * ``columns`` ``{col: {"min", "max", "nulls"}}``: the file-tier zone
      map, from :func:`zone_spans` merged by :func:`zone_merge`.
      min/max: long/int/short and double/float as JSON numbers (NaN as
      the token ``NaN``), timestamp as epoch micros, timestamp_ntz as
      ``"YYYY-MM-DD HH:MM:SS[.ffffff]"``, date as ``"YYYY-MM-DD"``,
      string as itself; both null when the column holds no non-null
      value. ``nulls`` int, null if unknown.
    * ``blocks`` ``[{"o": offset, "c": {col: [min, max, nulls]}}]``: the
      block-tier zone map, keyed by each block's compressed file offset
      (the scan's ``offset`` column), values as in ``columns``.
    * ``bloom`` ``{col: spec}``: file-tier blooms, each spec from
      :func:`seal_bloom_spec`.
    * ``bloom_blocks``: block-tier blooms, a :func:`seal_bloom_blocks_header`
      over :func:`_bloom_block_entries`.
    * ``carried`` true: compaction merged the file tier from its inputs.

    Which builder writes which keys. Every builder computes its zone
    maps with :func:`zone_spans` and merges them with :func:`zone_merge`;
    ``analyze_stats``, ``analyze_bloom`` and ``analyze_stats_proto`` are
    three calls into one pass (``operators/maintenance._analyze_pass``)
    that reads through the record model's scan reader and seals per
    file. ``blocks`` and ``bloom_blocks`` are sealed only for 4mc/4mz
    files (a container without a footer index has no blocks):

    * the sink (``statsschema``, ``bloomcolumns``): rows, columns, bloom;
    * ``analyze_stats``: rows, columns, blocks, keeping the bloom and
      bloom_blocks of the file's valid sidecar;
    * ``analyze_stats_proto``: rows, columns, blocks, and with
      ``bloom_columns`` bloom and bloom_blocks, else keeping the file's
      valid ones;
    * ``analyze_bloom``: bloom and bloom_blocks, amending a copy of the
      file's valid sidecar (else a bare envelope);
    * compaction's raw block copy (the carry): rows, columns, blocks,
      carried, bloom, bloom_blocks. A recompressing compaction seals
      none."""
    meta = {"version": 2, "size": os.path.getsize(path)}
    meta.update(fields)
    write_atomic(path + STATS_SUFFIX, _json.dumps(meta))


class _Summary(NamedTuple):
    """What a sidecar states about the rows of one file or one block.
    ``stats``: col -> (min, max, nulls); min and max both None means no
    non-null value, nulls None means unknown. ``blooms``: col ->
    (base64 bitmap, bits, k), already matched against the bloom
    contract tag, its geometry and the read schema's type family; the
    bitmap is decoded only when probed. A column a summary does not
    state never excludes it."""

    stats: dict
    blooms: dict


def _bloom_probes(
    points: dict[str, set], typemap: dict[str, str]
) -> dict[str, tuple[str, list[int]]]:
    """col -> (type family, xxh64 of each point value's canonical text),
    hashed once per plan. A column outside the typemap, or with any
    value outside its family ('int' | 'str' — the value's str() could
    differ from CAST AS STRING), is never probed."""
    from fourmc_spark.format.native import xxh64

    probes = {}
    for col, vals in points.items():
        fam = typemap.get(col)
        if fam == "int":
            ok = all(
                isinstance(v, int) and not isinstance(v, bool) for v in vals
            )
        else:
            ok = fam == "str" and all(isinstance(v, str) for v in vals)
        if ok:
            probes[col] = (
                fam,
                [xxh64(str(v).encode("utf-8"), BLOOM_SEED) for v in vals],
            )
    return probes


def _bloom_contract(spec) -> bool:
    """A bloom spec or ``bloom_blocks`` header sealed under the
    recognized tag, with a usable geometry."""
    if not isinstance(spec, dict):
        return False
    bits, k = spec.get("bits"), spec.get("k")
    return (
        (spec.get("algo"), spec.get("seed")) == (BLOOM_ALGO, BLOOM_SEED)
        and type(bits) is int  # (a JSON bool is no geometry)
        and type(k) is int
        and bits > 0
        and bits % 8 == 0
        and 1 <= k <= 64
    )


def _summaries(
    meta: dict, cols, probes: dict
) -> Iterator[tuple[int | None, _Summary]]:
    """Normalize a sidecar into summaries: first ``(None, file summary)``
    from ``columns`` and ``bloom``, then ``(offset, block summary)`` per
    block from ``blocks[].c`` and ``bloom_blocks.blocks[].c``. Reads the
    stats of ``cols`` and the blooms of the probed columns only; a
    malformed entry, a foreign bloom tag or geometry, or a bloom built
    for another type family than the read schema's (spec ``fam`` at the
    file tier, header ``fam`` map at the block tier) is left out. Lazy:
    block entries are read only if the file summary was kept."""
    fams = {col: fam for col, (fam, _) in probes.items()}
    stats, blooms = {}, {}
    columns = meta.get("columns")
    if isinstance(columns, dict):
        for col in cols:
            st = columns.get(col)
            if isinstance(st, dict):
                stats[col] = (st.get("min"), st.get("max"), st.get("nulls"))
    specs = meta.get("bloom")
    if isinstance(specs, dict):
        for col, fam in fams.items():
            spec = specs.get(col)
            if _bloom_contract(spec) and spec.get("fam") == fam:
                blooms[col] = (spec.get("b64"), spec["bits"], spec["k"])
    yield None, _Summary(stats, blooms)

    blocks: dict = {}

    def entries(bs):
        for b in bs or ():
            c = b.get("c") if isinstance(b, dict) else None
            if isinstance(c, dict):
                yield blocks.setdefault(b.get("o"), _Summary({}, {})), c

    for s, c in entries(meta.get("blocks")):
        for col in cols:
            st = c.get(col)
            if isinstance(st, (list, tuple)) and len(st) >= 2:
                s.stats[col] = (st[0], st[1], st[2] if len(st) > 2 else None)
    bb = meta.get("bloom_blocks")
    if _bloom_contract(bb) and isinstance(bb.get("fam"), dict):
        bcols = [col for col, fam in fams.items() if bb["fam"].get(col) == fam]
        for s, c in entries(bb.get("blocks")):
            for col in bcols:
                if isinstance(c.get(col), str):
                    s.blooms[col] = (c[col], bb["bits"], bb["k"])
    yield from blocks.items()


def _excluded(
    s: _Summary, zone: dict[str, list], nullreq: dict[str, set], probes: dict
) -> bool:
    """True iff summary *s* proves that none of its rows can satisfy the
    pushed conjunction: a zone bound its [min, max] excludes, a null-ness
    requirement its counts rule out (IsNotNull on a column with no
    non-null value, IsNull on one with no nulls), or a bloom that misses
    every point value. Zone, then null, then bloom, stopping at the
    first exclusion, so a bitmap is decoded only when the stats kept
    the summary. Spark re-applies every filter post-scan, so an
    exclusion can only remove provably-empty work."""
    import base64

    for col, bound in zone.items():
        st = s.stats.get(col)
        if (
            st is not None
            and (bound[0] is not None or bound[2] is not None)
            and _range_excluded(st[0], st[1], bound)
        ):
            return True
    for col, req in nullreq.items():
        st = s.stats.get(col)
        if st is not None and (
            ("notnull" in req and st[0] is None and st[1] is None)
            or ("null" in req and st[2] == 0)
        ):
            return True
    for col, (_, hashes) in probes.items():
        if col not in s.blooms:
            continue
        b64, bits, k = s.blooms[col]
        try:
            bm = base64.b64decode(b64, validate=True)
        except (TypeError, ValueError):
            continue
        if len(bm) * 8 == bits and not any(
            all(bm[p >> 3] >> (p & 7) & 1 for p in bloom_positions(h, k, bits))
            for h in hashes
        ):
            return True
    return False


def _sidecar_dropped(
    meta: dict, zone: dict[str, list], nullreq: dict[str, set], probes: dict
) -> frozenset | None:
    """One rule for both tiers: None when the file summary is excluded
    (the file is skipped), else the offsets of the excluded blocks —
    the compressed block offsets the scan's ``offset`` column exposes."""
    summaries = _summaries(meta, zone.keys() | nullreq.keys(), probes)
    if _excluded(next(summaries)[1], zone, nullreq, probes):
        return None
    return frozenset(
        o for o, s in summaries if _excluded(s, zone, nullreq, probes)
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _sanitize_pv(v) -> str:
    if v is None:
        return _HIVE_NULL
    s = str(v)
    # hive-style escaping kept minimal: path separators and NULs
    return s.replace("/", "%2F").replace("\x00", "%00") or _HIVE_NULL


def _split_by_partition(batch, pcols: list[str]):
    """Yield (reldir, sub_batch) per distinct partition-column combo;
    with no partition columns, the whole batch under reldir "".

    Partition columns are low-cardinality by contract, so per-batch
    distinct+filter (Arrow compute, no Python row loop) stays cheap."""
    if not pcols:
        yield "", batch
        return
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {c: batch.column(c) for c in pcols}
    combos = (
        pa.Table.from_arrays([cols[c] for c in pcols], names=pcols)
        .group_by(pcols)
        .aggregate([])
        .to_pylist()
    )
    for row in combos:
        mask = None
        for c in pcols:
            v = row[c]
            m = (
                pc.is_null(cols[c])
                if v is None
                else pc.equal(cols[c], pa.scalar(v, type=cols[c].type))
            )
            mask = m if mask is None else pc.and_kleene(mask, m)
        reldir = "/".join(f"{c}={_sanitize_pv(row[c])}" for c in pcols)
        yield reldir, batch.filter(pc.fill_null(mask, False))


def _partition_values_from_path(path: str, pcols: list[str]) -> dict[str, str | None]:
    """Recover hive-style key=value segments from a file path."""
    out: dict[str, str | None] = {c: None for c in pcols}
    for seg in path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in out:
                out[k] = None if v == _HIVE_NULL else v.replace("%2F", "/").replace(
                    "%00", "\x00"
                )
    return out


def _join_lines(col) -> memoryview:
    """newline-join an Arrow column into one buffer — Arrow compute
    (C-speed), never a per-value Python loop. NULLs write as empty lines,
    matching Hadoop TextOutputFormat.

    Single-copy: an appended empty element makes ``binary_join`` itself
    produce the trailing newline, and the result is returned as a
    zero-copy memoryview over the join's output buffer (the writer
    re-slices it into blocks; ``as_py()`` + concat would copy the batch
    twice more for nothing)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import numpy as np

    vals = pc.fill_null(col.cast(pa.large_binary()), b"")
    if isinstance(vals, pa.ChunkedArray):
        vals = vals.combine_chunks()
    # [v1..vn, ""] joined on \n = "v1\n...\nvn\n" — the trailing newline
    # comes from an appended empty element. Appending via concat_arrays
    # would copy the whole data buffer; duplicating the last offset
    # instead shares it (offsets are 8 bytes/row).
    n = len(vals)
    off = np.frombuffer(
        vals.buffers()[1], dtype=np.int64, count=n + 1, offset=vals.offset * 8
    )
    ext = np.empty(n + 2, dtype=np.int64)
    ext[: n + 1] = off
    ext[n + 1] = off[n]  # empty final element
    vals = pa.Array.from_buffers(
        pa.large_binary(), n + 1,
        [None, pa.py_buffer(ext), vals.buffers()[2]],
    )
    wrapped = pa.LargeListArray.from_arrays([0, len(vals)], vals)
    sep = pa.scalar(b"\n", type=pa.large_binary())
    joined = pc.binary_join(wrapped, sep)
    # length-1 LargeBinaryArray: buffers = [validity, int64 offsets, data]
    offs = memoryview(joined.buffers()[1]).cast("q")
    lo, hi = offs[joined.offset], offs[joined.offset + 1]
    return memoryview(joined.buffers()[2])[lo:hi]


@dataclass
class FourMcCommitMessage(WriterCommitMessage):
    # (staged, final) path pairs — one per file this task produced
    # (several when writing hive-partitioned output)
    files: tuple


# The one landing path for sealed files: the batch, proto and stream
# sinks and compaction all commit through these. Invariants, each step
# a single rename or unlink: a sidecar never outlives or precedes its
# data file, and an overwrite removes nothing until every new file has
# landed — a crash leaves the old files plus some new ones (duplicates,
# never loss) until the write is rerun. Concurrent readers may list a
# mixture; there is no reader-side commit point.

def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def write_atomic(path: str, text: str) -> None:
    """Small-file write (sidecar, marker) readers see whole or not at all."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def land(staged: str, final: str) -> None:
    """Move a sealed file to *final*, then its staged sidecar if one was
    sealed. Any old sidecar at *final* goes first: it describes the
    previous occupant, and the size check alone could re-adopt it."""
    _remove(final + STATS_SUFFIX)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(staged, final)
    if os.path.exists(staged + STATS_SUFFIX):
        os.replace(staged + STATS_SUFFIX, final + STATS_SUFFIX)


def retire(paths) -> None:
    """Remove files, each sidecar before its data file."""
    for p in paths:
        _remove(p + STATS_SUFFIX)
        _remove(p)


def _snapshot(root: str) -> list[str]:
    """What an overwrite of *root* replaces: every listed data file
    (nested dirs included) plus ``_SUCCESS``."""
    if not os.path.isdir(root):
        return []
    return _list_files(root) + [os.path.join(root, "_SUCCESS")]


def _sweep_staging(root: str) -> None:
    try:
        os.rmdir(os.path.join(root, "_temporary"))
    except OSError:
        pass


def _staged_pairs(messages) -> list[tuple[str, str]]:
    return [pair for m in messages or () if m is not None for pair in m.files]


def publish(root: str, messages, replaced=()) -> None:
    """Batch commit: land every staged file, only then retire the
    overwrite snapshot *replaced*, then mark ``_SUCCESS``."""
    for staged, final in _staged_pairs(messages):
        land(staged, final)
    retire(replaced)
    _sweep_staging(root)
    with open(os.path.join(root, "_SUCCESS"), "w"):
        pass


def discard(root: str, messages) -> None:
    """Abort: drop every staged file and sidecar."""
    retire(staged for staged, _final in _staged_pairs(messages))
    _sweep_staging(root)


class FourMcDataSourceWriter(DataSourceArrowWriter):
    """Arrow-batch sink: writes each task's rows as one .4mc/.4mz file.

    Mirrors FourMcOutputStream (K1/K2) per task. Tasks stage files (and
    sealed sidecars) under ``_temporary/``; commit() is :func:`publish`
    — every staged file lands before an overwrite retires the old ones —
    and abort() is :func:`discard`.
    """

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fourmc sink requires a path")
        # codec: lz4 | zstd (.4mc | .4mz, the splittable scale path), zst
        # (one standard zstd frame per task file, reference C8) or a
        # Hadoop block-codec extension such as lz4_fast (M/R interop);
        # format.core.container_for_codec resolves it
        self.container = container_for_codec(options.get("codec", "lz4"))
        self.level = options.get("level", "fast")
        self.block_size = int(options.get("blocksize", 4 * 1024 * 1024))
        # maxfilebytes: roll to a new file once the current one exceeds
        # this many COMPRESSED bytes (0 = one file per task). The
        # maxRecordsPerFile analog: without it a task holding 100 GB
        # writes one 100 GB file; each rolled file is independently
        # sealed (EOS + footer), so downstream split planning stays
        # per-file and bounded.
        self.max_file_bytes = int(options.get("maxfilebytes", 0))
        self.overwrite = overwrite
        # hive-style layout: partitionby=c1[,c2...] writes key=value/ dirs —
        # readers prune by path (glob) and can rebuild the columns with the
        # partitioncolumns scan option
        self.partition_cols = [
            c.strip() for c in options.get("partitionby", "").split(",") if c.strip()
        ]
        names = [f.name for f in schema.fields]
        for c in self.partition_cols:
            if c not in names:
                raise ValueError(f"partitionby column {c!r} not in schema {names}")
        # snapshot pre-existing output (driver side, plan time); publish()
        # retires it only after every staged file has landed, so a failed
        # job never destroys existing data
        self.existing = _snapshot(self.path) if overwrite else []
        # statsschema=<flat ddl>: the task computes file-tier zone maps
        # (min/max/null-count per declared column) from the NDJSON value
        # lines WHILE writing, through the zone_spans kernel the ANALYZE
        # zone builders also use, and seals a .stats.json sidecar next to
        # each file — fresh ingest prunes immediately, no ANALYZE lag.
        # Requires the value lines to be valid NDJSON for the declared
        # fields (the to_json(struct(...)) pipeline); Arrow-parsed per
        # batch, zero cost when unset.
        # LIMITATION (documented, same convention as the typed scan):
        # TimestampType stats are epoch micros computed from the parsed
        # wall clock — exact for zone-suffixed text (to_json always
        # writes Z-suffixed UTC) under ANY session timezone, but
        # ZONE-LESS timestamp text is assumed UTC. The writer cannot see
        # the session timezone (Python DataSource workers get options
        # only) and Arrow's parse cannot flag zone-less text. Every
        # sidecar builder reads that way: the jsonschema scan, this
        # sink and analyze_stats() (which reads through the scan's own
        # reader), so the sidecars always agree with the scan's rows;
        # only a value-mode from_json read under a non-UTC session
        # differs.
        ss = options.get("statsschema")
        self.stats_schema: StructType | None = (
            _parse_flat_ddl(ss) if ss else None
        )
        # statsformat: the record model of the value lines ('json'
        # default; 'csv' for to_csv pipelines — the csvschema twin)
        self.stats_format = str(options.get("statsformat", "json")).lower()
        if self.stats_format not in ("json", "csv"):
            raise ValueError(
                f"fourmc sink: statsformat must be 'json' or 'csv', "
                f"got {self.stats_format!r}"
            )
        # bloomcolumns=c1[,c2...]: ALSO seal write-time bloom bitmaps for
        # the named statsschema fields (int/string only — the same
        # eligibility as analyze_bloom, whose sidecars these match
        # bit-for-bit, pinned by a test). Each batch's distinct values
        # hash in one call (bloom_hashes) and OR their k positions into
        # one packed bitmap per column per open file (bloom_set_bits) —
        # no per-value Python anywhere in the sink.
        # With statsschema + bloomcolumns a sealed log prunes ranges AND
        # point lookups with no ANALYZE job ever; compaction carries
        # both tiers.
        bc = options.get("bloomcolumns", "")
        self.bloom_cols = [c.strip() for c in bc.split(",") if c.strip()]
        self.bloom_bits = int(options.get("bloombits", 1 << 20))
        self.bloom_k = int(options.get("bloomk", 7))
        if self.bloom_cols:
            if self.stats_schema is None:
                raise ValueError(
                    "fourmc sink: bloomcolumns requires statsschema "
                    "(the declared NDJSON fields to parse)"
                )
            validate_bloom_geometry(
                self.bloom_bits, self.bloom_k, "fourmc sink bloomcolumns"
            )
        types = {f.name: f.dataType for f in self.stats_schema or ()}
        self.bloom_fams: dict[str, str] = {}  # col -> family, sealed per spec
        for c in self.bloom_cols:
            if c not in types:
                raise ValueError(
                    f"fourmc sink: bloomcolumns field {c!r} not in "
                    "statsschema"
                )
            self.bloom_fams[c] = bloom_family(types[c])
            if self.bloom_fams[c] is None:
                raise ValueError(
                    f"fourmc sink: bloomcolumns field {c!r} has type "
                    f"{types[c].simpleString()}; only long/int/short/"
                    "string fields are bloom-eligible"
                )
        # pick the string column to serialize as lines
        data_names = [n for n in names if n not in self.partition_cols]
        if "value" in data_names:
            self.value_col = "value"
        else:
            str_cols = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, StringType) and f.name in data_names
            ]
            if len(data_names) == 1:
                self.value_col = data_names[0]
            elif len(str_cols) >= 1:
                self.value_col = str_cols[0]
            else:
                raise ValueError(
                    "fourmc sink needs a 'value' string column "
                    f"(got schema {names})"
                )

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> FourMcCommitMessage:
        import numpy as np

        from fourmc_spark.format.writer import writer_for

        staging = os.path.join(self.path, "_temporary")
        os.makedirs(staging, exist_ok=True)
        task_id = uuid.uuid4().hex

        streams: dict[str, tuple] = {}  # reldir -> (fileobj, writer, staged, acc)
        files: list[tuple[str, str]] = []
        stat_types = {f.name: f.dataType for f in self.stats_schema or ()}
        stat_cols = list(stat_types)
        if self.stats_schema is None:
            stats_parser = None
        elif self.stats_format == "csv":
            stats_parser = _TypedCsvParser(self.stats_schema, stat_cols)
        else:
            stats_parser = _TypedNdjsonParser(self.stats_schema, stat_cols)

        def _writer_for(reldir: str):
            if reldir in streams:
                return streams[reldir][1]
            fname = f"part-{task_id}-{len(files)}{self.container.ext}"
            staged = os.path.join(staging, f"{len(files)}-{fname}")
            final = os.path.join(self.path, reldir, fname) if reldir else os.path.join(
                self.path, fname
            )
            f = open(staged, "wb")
            w = writer_for(self.container, f, self.level, self.block_size)
            acc = (
                # per column: the zone_merge of every batch so far; bloom:
                # packed bitmap per bloomcolumns field
                {"rows": 0,
                 "cols": {c: zone_merge(()) for c in stat_cols},
                 "bloom": {c: np.zeros(self.bloom_bits // 8, np.uint8)
                           for c in self.bloom_cols}}
                if self.stats_schema is not None else None
            )
            streams[reldir] = (f, w, staged, acc)
            files.append((staged, final))
            return w

        def _accumulate_stats(reldir: str, values: "pa.Array") -> None:
            # file-tier zone map from the exact lines this file receives:
            # one Arrow JSON parse per batch (C-side), then the zone_spans
            # kernel per column, merged into the file's running zone
            acc = streams[reldir][3]
            arrays = _parse_lines(stats_parser, values)
            acc["rows"] += len(values)
            for c, col in zip(stat_cols, arrays):
                z = acc["cols"][c]
                acc["cols"][c] = zone_merge(
                    [tuple(z.values()), *zone_spans(col, stat_types[c])]
                )
                if c in acc["bloom"]:
                    bloom_set_bits(acc["bloom"][c], bloom_hashes(col),
                                   self.bloom_k, self.bloom_bits)

        def _seal_sidecar(staged: str, acc) -> None:
            if acc is None:
                return
            fields = {"rows": acc["rows"], "columns": acc["cols"]}
            if self.bloom_cols:
                fields["bloom"] = {
                    c: seal_bloom_spec(
                        acc["bloom"][c].tobytes(), self.bloom_bits,
                        self.bloom_k, fam,
                    )
                    for c, fam in self.bloom_fams.items()
                }
            seal_sidecar(staged, fields)

        def _close_stream(reldir: str) -> None:
            f, w, staged, acc = streams.pop(reldir)
            w.close()
            f.close()
            _seal_sidecar(staged, acc)

        def _roll_if_needed(reldir: str) -> None:
            if self.max_file_bytes <= 0 or reldir not in streams:
                return
            f = streams[reldir][0]
            if f.tell() >= self.max_file_bytes:
                _close_stream(reldir)  # next batch opens a fresh sealed file

        def _sub_batches(batch: "pa.RecordBatch"):
            # with rolling on, bound the roll-check granularity: a task's
            # whole partition can arrive as one Arrow batch, which would
            # defeat any maxfilebytes smaller than the batch
            if self.max_file_bytes <= 0 or len(batch) <= 4096:
                yield batch
                return
            for off in range(0, len(batch), 4096):
                yield batch.slice(off, 4096)

        try:
            for full_batch in iterator:
                if len(full_batch) == 0:
                    continue
                for batch in _sub_batches(full_batch):
                    for reldir, sub in _split_by_partition(
                        batch, self.partition_cols
                    ):
                        values = sub.column(self.value_col)
                        _writer_for(reldir).write(_join_lines(values))
                        if self.stats_schema is not None:
                            _accumulate_stats(reldir, values)
                        _roll_if_needed(reldir)
        finally:
            for reldir in list(streams):
                _close_stream(reldir)
        return FourMcCommitMessage(files=tuple(files))

    def commit(self, messages) -> None:
        publish(self.path, messages, self.existing)

    def abort(self, messages) -> None:
        discard(self.path, messages)
