"""Structured Streaming reader/writer for the 4mc/4mz DataSource.

4mc files are append-only-then-sealed: the footer index is written at
close (FourMcOutputStream.java:112-129 in the reference), so a file that
has a valid footer is complete and immutable — a natural micro-batch
unit. The stream reader treats *whole sealed files* as the offset
granularity, exactly like Spark's built-in FileStreamSource:

* offset = the set of files already ingested (JSON, checkpointed by the
  engine). Spark's own FileStreamSource keeps the same seen-files log
  (compacted); at 100 TB the per-file cost is O(name), not O(bytes),
  and planning reads only each new file's footer.
* each micro-batch plans the *new* files with the batch reader's own
  split planner (block-aligned slices, FourMcBlockIndex.java:142-173,
  packed into about one partition per core), so a single huge file
  still fans out across the cluster and a batch of many small files
  shares a few tasks.

The stream writer emits one sealed .4mc/.4mz file per task per
micro-batch into `_temporary/`, and the driver-side commit(batchId)
lands them under deterministic names through the batch sinks' shared
helpers (``land``/``retire``/``discard`` in ``datasource``) —
idempotent per batch id, so replayed batches after a failure do not
double-write.
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterator

from pyspark.sql.datasource import (
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from fourmc_spark.sources.datasource import (
    FourMcDataSourceReader, FourMcDataSourceWriter, _list_files,
    _staged_pairs, _sweep_staging, discard, land, retire, write_atomic,
)

#: the stream sink's commit markers under its output root (see
#: FourMcStreamWriter) and the batch-scoped names it lands files under
_SINK_HWB, _SINK_DONE = "_fourmc_sink_hwb", "_fourmc_sink_done"
_SINK_NAME = re.compile(r"part-b(\d{10})-")


def _read_marker(path: str) -> tuple[int, bool]:
    try:
        with open(path) as f:
            return int(f.read().strip()), True
    except (OSError, ValueError):
        return -1, False  # no marker yet: first commit or a pre-marker tree


class FourMcStreamReader(DataSourceStreamReader):
    """Micro-batch reader: new sealed files since the last offset."""

    def __init__(
        self, options, schema: StructType, cores: int | None = None
    ) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fourmc stream source requires a path")
        # maxfilespertrigger: bound each micro-batch to N files ARRIVING
        # AFTER a reader instance's first offset (the FileStreamSource
        # rate-limit analog for steady-state drains). SCOPE — unlike the
        # JVM FileStreamSource, it cannot bound initial catch-up: the
        # first offset on any instance (fresh start OR restart) must be
        # unbounded because the Python source API hides the engine's
        # checkpoint here, and a capped first offset can regress the
        # offset chain, which the engine then adopts as the next start
        # and double-ingests (measured, round 8 — see the _hwm invariant
        # note below). 0 = unbounded (default).
        self.max_files_per_trigger = int(options.get("maxfilespertrigger", 0))
        # High-water mark: every file this instance has ever returned in
        # an offset or seen committed. None = no latestOffset call yet.
        # INVARIANT (measured against the real engine, round 8): every
        # returned offset must be a superset of every earlier one AND of
        # the engine's current offset — the engine calls latestOffset
        # BEFORE initialOffset, commits arrive asynchronously (after the
        # next latestOffset), and a regressed end is adopted as the next
        # batch's start, double-ingesting everything between. A capped
        # offset computed against the (stale) committed set violated
        # this; capping against the monotone high-water mark cannot.
        self._hwm: set[str] | None = None
        # orderednames=true: O(1) offsets for producers whose file
        # BASENAMES are globally unique and sort in arrival order (our
        # own streaming sink's part-b{batchId}-… names qualify, in flat
        # AND hive-partitioned layouts — ordering ignores directories
        # precisely so partitionby output composes; date-stamped drops
        # qualify too). The default seen-set offset is O(total files
        # ever) JSON per trigger — fine at thousands of files, a
        # driver/checkpoint hazard at the million-file counts a 100 TB
        # stream accumulates. In this mode the offset is just
        # {"hwm": <last ingested basename>, "n": <count at/below it>}.
        # CONTRACT, not just a tripwire: a new file whose basename sorts
        # at or below the mark is outside the stream's domain. The
        # persisted count makes the violation detectable on a LIVE
        # instance (count below the mark grew between offsets) AND
        # across restarts (partitions() re-checks the listing against
        # the checkpointed count) — both raise loudly. The only silent
        # residue is a stray exactly cancelled by an equal-count
        # deletion below the mark, which no O(1) offset can see.
        # Producers that cannot guarantee ordered unique basenames must
        # use the default seen-set mode.
        self.ordered_names = (
            str(options.get("orderednames", "false")).lower() == "true"
        )
        # startafter=<basename> (orderednames only): the stream half of
        # the two-phase backfill recipe for the initial-catch-up scope
        # limit above. A huge pre-existing backlog should be processed
        # as a BATCH job (spark.read.format("fourmc") — restartable at
        # stage granularity, AQE-planned), and the stream started with
        # startafter=<largest backlog basename>: on a FRESH checkpoint
        # the initial offset begins at that mark, so batch 0 ingests
        # only files that arrived after the backfill cut, instead of
        # replanning the whole backlog as one giant micro-batch. With an
        # existing checkpoint the checkpointed offset governs and this
        # option is inert (initialOffset is never consulted), which is
        # exactly the safe restart semantic.
        self.start_after = options.get("startafter")
        if self.start_after is not None and not self.ordered_names:
            raise ValueError(
                "fourmc stream: startafter requires orderednames=true "
                "(the cut point is a basename high-water mark)"
            )
        self._hwm_str: str | None = None
        self._n_below: int | None = None
        # delegate row production to the batch reader (same Arrow
        # batches); subclasses swap in a different record model (e.g.
        # the EB-protobuf reader) while keeping the offset machinery
        self._batch_reader = self._make_batch_reader(options, schema, cores)

    def _make_batch_reader(self, options, schema: StructType, cores):
        return FourMcDataSourceReader(options, schema, cores)


    def _list(self) -> list[str]:
        return _list_files(self.path) if os.path.exists(self.path) else []

    def initialOffset(self) -> dict:
        if self.ordered_names:
            if self.start_after:
                # two-phase backfill cut: everything at or below the
                # mark was handled by the batch job; count it so the
                # stray check has its baseline
                n = sum(
                    1 for k, _ in self._basenames(self._list())
                    if k <= self.start_after
                )
                return {"hwm": self.start_after, "n": n}
            return {"hwm": "", "n": 0}
        return {"seen": "[]"}

    @staticmethod
    def _basenames(files: list[str]) -> list[tuple[str, str]]:
        """(basename, path) pairs sorted by basename; duplicate
        basenames are a hard error — the O(1) offset is a basename, so
        two files sharing one would be indistinguishable."""
        keyed = sorted((os.path.basename(f), f) for f in files)
        for (a, _), (b, pb) in zip(keyed, keyed[1:]):
            if a == b:
                raise ValueError(
                    "fourmc stream: orderednames=true requires globally "
                    f"unique file basenames; {a!r} appears more than once "
                    f"(e.g. {pb!r}). Use the default seen-set mode."
                )
        return keyed

    def _latest_ordered(self, files: list[str]) -> dict:
        """O(1) offset: the lexicographically-last ingested BASENAME
        (directories ignored, so hive-partitioned sink output composes)
        plus ``n``, the count of basenames at or below it when the
        offset was published. Persisting ``n`` in the offset (still
        O(1)) lets a FRESH instance detect a stray below the restored
        mark in partitions() — the restart hole the count-on-a-live-
        instance heuristic alone left open. Same monotone-high-water-
        mark invariant as the seen-set mode — _hwm_str only ever grows,
        and the first call on an instance is unbounded (max of the full
        listing covers any checkpoint, because sealed files are never
        deleted)."""
        keyed = self._basenames(files)
        if self._hwm_str is None:
            top = keyed[-1][0] if keyed else ""
            # never seed below a startafter cut: with an empty (or
            # fully-backfilled) listing the mark must hold at the cut,
            # or the next arrival batch would start from "" and
            # re-ingest the backfilled backlog
            self._hwm_str = max(top, self.start_after or "")
            self._n_below = sum(1 for k, _ in keyed if k <= self._hwm_str)
            return {"hwm": self._hwm_str, "n": self._n_below}
        below = sum(1 for k, _ in keyed if k <= self._hwm_str)
        if self._n_below is not None and below > self._n_below:
            raise ValueError(
                "fourmc stream: orderednames=true but a new file's "
                "basename sorts at or below the current high-water mark "
                f"({self._hwm_str!r}) — it is OUTSIDE the stream's domain "
                "and will never be ingested by this mode (restarts also "
                "refuse it: the persisted below-mark count makes a fresh "
                "reader raise this same error). Re-drop it under a name "
                "above the mark, or rebuild the checkpoint with the "
                "default seen-set mode."
            )
        new = [k for k, _ in keyed if k > self._hwm_str]
        if self.max_files_per_trigger > 0:
            new = new[: self.max_files_per_trigger]
        if new:
            self._hwm_str = new[-1]
            self._n_below = below + len(new)
        elif self._n_below is None:
            # commit-seeded mark (see commit()): adopt the current count
            # as the baseline the stray check grows from
            self._n_below = below
        return {"hwm": self._hwm_str, "n": self._n_below}

    def _committed_list(self) -> list[str]:
        """The listing minus our stream sink's batches above its
        ``_fourmc_sink_done`` mark, read BEFORE the walk: the sink writes
        that mark after the last rename of a batch, so every file at or
        below it was in place when the walk began, while a batch still
        landing (one file per hive directory, each visited at its own
        moment of the walk) stays out until its commit finishes. Trees
        without the mark list whole."""
        done, known = _read_marker(os.path.join(self.path, _SINK_DONE))
        files = self._list()
        if not known:
            return files
        return [
            f for f in files
            if (m := _SINK_NAME.match(os.path.basename(f))) is None
            or int(m.group(1)) <= done
        ]

    def latestOffset(self) -> dict:
        if self.ordered_names:
            return self._latest_ordered(self._committed_list())
        files = sorted(self._list())
        if self._hwm is None:
            # first call on this instance: must be unbounded. The
            # engine's current offset (a restored checkpoint, or a prior
            # instance's return) is invisible here, and every historical
            # offset is a subset of the current listing because sealed
            # files are never deleted — so "all files" is the unique
            # safe superset; anything smaller can regress the offset
            # chain (see the invariant note in __init__).
            self._hwm = set(files)
        elif self.max_files_per_trigger > 0:
            new = [f for f in files if f not in self._hwm]
            self._hwm |= set(new[: self.max_files_per_trigger])
            files = sorted(f for f in files if f in self._hwm)
        else:
            self._hwm |= set(files)
        return {"seen": json.dumps(files)}

    def partitions(self, start: dict, end: dict):
        if ("hwm" in start) != ("hwm" in end):
            raise ValueError(
                "fourmc stream: offset formats differ between start and "
                "end — the orderednames option was flipped across a "
                "restart; it must match the checkpoint's mode"
            )
        if "hwm" in end:
            lo, hi = start.get("hwm", ""), end.get("hwm", "")
            keyed = self._basenames(self._list())
            # restart-safe stray check (the offset carries the count of
            # basenames at/below its mark): files at or below the
            # CHECKPOINTED start mark can only shrink (deletion) for a
            # compliant producer — growth means a stray landed below the
            # mark while no live instance was watching, and it would be
            # silently skipped forever. Old checkpoints without "n" skip
            # the check. (A stray exactly cancelled by an equal-count
            # deletion remains undetectable without the full listing —
            # that is the documented contract boundary.)
            n0 = start.get("n")
            if n0 is not None:
                below = sum(1 for k, _ in keyed if k <= lo)
                if below > n0:
                    raise ValueError(
                        "fourmc stream: orderednames=true but the listing "
                        f"now holds {below} files at or below the "
                        f"checkpointed high-water mark ({lo!r}); the "
                        f"offset recorded {n0}. A file was dropped below "
                        "the mark (it would be silently lost) — re-drop "
                        "it above the mark, or rebuild the checkpoint "
                        "with the default seen-set mode."
                    )
            new_files = [p for k, p in keyed if lo < k <= hi]
        else:
            seen = set(json.loads(start.get("seen", "[]")))
            target = json.loads(end.get("seen", "[]"))
            new_files = [f for f in target if f not in seen]
        return self._batch_reader.plan(new_files)

    def read(self, partition) -> Iterator:
        yield from self._batch_reader.read(partition)

    def commit(self, end: dict) -> None:
        # engine checkpoints offsets; sealed files are immutable — nothing
        # to clean up on our side. Fold the committed set into the
        # high-water mark (commits arrive async relative to latestOffset,
        # so this may only ever GROW the mark, never replace it).
        if "hwm" in end:
            h = end["hwm"]
            if self._hwm_str is None or h > self._hwm_str:
                self._hwm_str = h
                # adopt the committed count too, so a commit-seeded mark
                # carries a stray baseline instead of leaving it unknown
                self._n_below = end.get("n")
            return
        committed = set(json.loads(end.get("seen", "[]")))
        self._hwm = committed if self._hwm is None else self._hwm | committed


class FourMcStreamWriter(DataSourceStreamArrowWriter):
    """Per-micro-batch sink: each task seals .4mc/.4mz files.

    write() delegates to the batch writer's task body, so the streaming
    sink carries the FULL batch-sink surface: hive ``partitionby``
    layout, ``maxfilebytes`` rolling (each rolled file independently
    sealed), and every codec family (4mc/4mz, straight Hadoop block
    codecs, ``.zst`` streaming frames).

    Idempotence: commit() lands staged files (with their sidecars,
    through the batch sinks' :func:`land`) at DETERMINISTIC names
    keyed by (batchId, task index, file index), so a micro-batch
    replayed after a failure between sink commit and checkpoint commit
    cannot duplicate its own output — the poor man's version of
    FileStreamSink's per-batch manifest. Two markers under the output
    root stage the guarantee:

    * ``_fourmc_sink_hwb`` — largest batchId whose commit STARTED,
      written before any rename;
    * ``_fourmc_sink_done`` — largest batchId whose commit FINISHED,
      written after the last rename.

    An ``orderednames`` reader of the same root lists no batch above
    DONE, so it never takes an offset inside a commit that is still
    landing. A replayed batch at or below the DONE mark no-ops: the first
    attempt's files stand untouched and the replay's staging is
    discarded. That matters beyond disk hygiene — sealed files are a
    live ordered-names consumer's offset domain, and re-renaming (or
    sweeping) files a consumer already ingested would feed it
    duplicates under fresh above-the-hwm names whenever the replay
    re-plans into a different task/file split. Only a batch above DONE
    but at or below HWB — a crash mid-rename, where the first attempt
    is partial on disk — pays the supersede path: commit() retires
    part-b{batchId} files from every dir the new attempt writes into
    (same dir union as the prior attempt for deterministic input) and
    renames fresh. Steady-state commits skip both and stay O(batch),
    never O(accumulated output). Residuals, both documented here and
    pinned in tests: non-deterministic batch CONTENT (even a same-split
    replay writes different rows; compose the dedup-ingest manifest
    pattern from streaming/ops.py), and a mid-rename crash under a LIVE
    ordered consumer (the sweep mutates files the consumer may hold —
    its stray check turns that into a loud error, not silent loss).
    """

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        # reuse the batch writer's option parsing, value-column
        # selection, partition split, and rolling task body; subclasses
        # swap in a different record model (e.g. the EB-protobuf
        # writer) while keeping the staging/commit machinery
        self._w = self._make_batch_writer(options, schema)
        self.path = self._w.path

    def _make_batch_writer(self, options, schema: StructType):
        return FourMcDataSourceWriter(options, schema, overwrite=False)

    def write(self, iterator) -> WriterCommitMessage:
        # batch task body: stages files under _temporary/, returns the
        # (staged, final) pairs; the streaming commit below substitutes
        # its own deterministic final names
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        # See the class docstring for the marker protocol. Ordering per
        # commit: read markers -> (no-op | sweep) -> write HWB -> rename
        # -> write DONE. HWB before the renames makes a mid-rename crash
        # detectable; DONE after them makes a finished first attempt
        # immutable under replay (a live ordered-names consumer may
        # already hold its files as ingested offsets).
        done_marker = os.path.join(self.path, _SINK_DONE)
        done, _ = _read_marker(done_marker)
        if batchId <= done:
            # first attempt fully committed: it stands; discard replay
            discard(self.path, messages)
            return
        marker = os.path.join(self.path, _SINK_HWB)
        last, known = _read_marker(marker)
        if not known or batchId <= last:
            # possible partial first attempt (crash mid-rename, or a
            # pre-marker output tree): supersede it. Deterministic
            # input => the replay touches the same hive-dir UNION as
            # the prior attempt (partition values derive from the
            # data, only the task split differs), so sweeping just the
            # dirs this attempt writes into suffices — steady-state
            # commits never list dirs and stay O(batch).
            prefix = f"part-b{batchId:010d}-"
            dirs = {os.path.dirname(f) for _s, f in _staged_pairs(messages)}
            retire(
                os.path.join(d, name)
                for d in dirs if os.path.isdir(d)
                for name in os.listdir(d) if name.startswith(prefix)
            )
        if batchId > last:
            os.makedirs(self.path, exist_ok=True)
            write_atomic(marker, str(batchId))
        for ti, m in enumerate(messages):
            if m is None:
                continue
            for fi, (staged, final) in enumerate(m.files):
                # keep the batch writer's directory (hive partition
                # dirs included) and extension; replace the random task
                # id with batch-scoped deterministic coordinates
                d = os.path.dirname(final)
                ext = os.path.splitext(final)[1]
                land(staged, os.path.join(
                    d, f"part-b{batchId:010d}-{ti:05d}-{fi:03d}{ext}"
                ))
        write_atomic(done_marker, str(batchId))
        _sweep_staging(self.path)

    def abort(self, messages, batchId: int) -> None:
        discard(self.path, messages)
