"""Streaming surface tests (SURVEY.md §2.2 Streaming / M5).

Strategy: every windowed operator is a pure DataFrame→DataFrame
function, so each test runs it twice — once on the *batch* events frame
(ground truth, plain Catalyst agg) and once through an actual
micro-batch streaming query into a memory sink — and asserts identical
results. Watermark/late-data and the stateful sessionizer are asserted
on hand-built multi-file fixtures where arrival order is controlled.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fourmc_spark.sources.datasource import iter_slices
from fourmc_spark.streaming import (
    dedup_within_watermark,
    distinct_users_hourly,
    funnel_interval_join,
    read_events_stream,
    run_to_memory,
    session_counts,
    sessionize_stateful,
    sliding_counts,
    tumbling_counts,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _events_batch(spark):
    from fourmc_spark.events import load_events

    return load_events(spark, EVENTS)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_counts_stream_equals_batch(spark):
    batch = tumbling_counts(_events_batch(spark), window="1 hour")
    stream = tumbling_counts(read_events_stream(spark, EVENTS), window="1 hour")
    got = run_to_memory(stream, "t_tumble", output_mode="complete")
    cols = ["win_start", "event_type", "cnt", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(got, cols)) > 0


def test_sliding_counts_stream_equals_batch(spark):
    batch = sliding_counts(_events_batch(spark))
    stream = sliding_counts(read_events_stream(spark, EVENTS))
    got = run_to_memory(stream, "t_slide", output_mode="complete")
    cols = ["win_start", "event_type", "cnt"]
    assert _rows(got, cols) == _rows(batch, cols)
    # each event lands in 2 overlapping windows (1h window / 30m slide)
    total_batch = _events_batch(spark).count()
    assert got.agg(F.sum("cnt")).collect()[0][0] == 2 * total_batch


def test_chained_stateful_dedup_then_window_agg(spark, tmp_path):
    # multi-stateful chain (dedup -> windowed agg) in ONE streaming query;
    # append mode holds a window until the watermark passes it, so a
    # far-future sentinel event flushes all real windows after the drain —
    # the sentinel's own window stays held back and never appears
    import shutil as _sh

    src = str(tmp_path / "ev")
    os.makedirs(src)
    _sh.copy(EVENTS, os.path.join(src, "part-0.parquet"))
    sdf = distinct_users_hourly(read_events_stream(spark, src))
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_musers")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        held = spark.table("t_musers").count()
        sentinel = (
            spark.read.parquet(os.path.join(src, "part-0.parquet"))
            .orderBy(F.desc("ts"))
            .limit(1)
            .withColumn("ts", F.expr("ts + INTERVAL 3650 DAYS"))
        )
        sentinel.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_musers")
    batch = distinct_users_hourly(_events_batch(spark))
    cols = ["win_start", "event_type", "n_users"]
    assert _rows(got, cols) == _rows(batch, cols)
    # the flush emitted the windows the watermark was holding back
    assert got.count() > held


def test_interval_join_stream_equals_batch(spark):
    b = _events_batch(spark)
    batch = funnel_interval_join(b, b, max_delay="30 minutes")
    stream = funnel_interval_join(
        read_events_stream(spark, EVENTS),
        read_events_stream(spark, EVENTS),
        max_delay="30 minutes",
    )
    got = run_to_memory(stream, "t_ivjoin", output_mode="append")
    cols = ["user_id", "a_id", "b_id"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(got, cols)) > 0
    # every match really is a click->purchase pair within the delay
    ev = b.select("event_id", "event_type", "ts")
    j = (
        batch.join(ev.withColumnsRenamed({"event_type": "a_type", "ts": "a_ts"}),
                   F.col("a_id") == F.col("event_id")).drop("event_id")
        .join(ev.withColumnsRenamed({"event_type": "b_type", "ts": "b_ts"}),
              F.col("b_id") == F.col("event_id"))
    )
    bad = j.where(
        (F.col("a_type") != "click")
        | (F.col("b_type") != "purchase")
        | (F.col("b_ts") <= F.col("a_ts"))
        | (F.col("b_ts") > F.expr("a_ts + INTERVAL 30 minutes"))
    )
    assert bad.count() == 0


def test_session_counts_stream_equals_batch(spark):
    batch = session_counts(_events_batch(spark), gap="15 minutes")
    stream = session_counts(read_events_stream(spark, EVENTS), gap="15 minutes")
    got = run_to_memory(stream, "t_sess", output_mode="complete")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(batch, cols)
    # sessions partition the events: counts must add up
    assert got.agg(F.sum("n_events")).collect()[0][0] == _events_batch(spark).count()


def _write_events_file(spark, rows, path):
    """Write ONE parquet file at `path` (FileStreamSource does not
    recurse into per-write subdirectories)."""
    import glob
    import tempfile

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    with tempfile.TemporaryDirectory() as td:
        staging = os.path.join(td, "w")
        df.coalesce(1).write.parquet(staging)
        (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, path)


@pytest.fixture()
def stream_dir(tmp_path):
    d = str(tmp_path / "stream_in")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _read_simple_stream(spark, path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def test_watermark_drops_late_data(spark, stream_dir, tmp_path):
    """Append-mode tumbling agg: an event arriving 2h late (beyond the
    30m watermark) after its window has been finalized must be ignored."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    # f1: events in hour 0; f2: advances watermark to 2:30; f3: triggers
    # the batch in which the hour-0 window is finalized+evicted; f4: a
    # straggler back in hour 0, arriving after eviction → must be dropped
    _write_events_file(spark, [(1, base, 1, "a", 1.0), (2, base + h / 2, 1, "a", 1.0)],
                       os.path.join(stream_dir, "f1.parquet"))
    _write_events_file(spark, [(3, base + 3 * h, 1, "a", 1.0)],
                       os.path.join(stream_dir, "f2.parquet"))
    _write_events_file(spark, [(4, base + 3 * h + h / 2, 1, "a", 1.0)],
                       os.path.join(stream_dir, "f3.parquet"))
    _write_events_file(spark, [(5, base + h / 4, 1, "a", 99.0)],
                       os.path.join(stream_dir, "f4.parquet"))

    agg = tumbling_counts(_read_simple_stream(spark, stream_dir),
                          window="1 hour", watermark="30 minutes")
    ckpt = str(tmp_path / "ckpt_late")
    q = (
        agg.writeStream.format("memory").queryName("t_late")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = {(r["win_start"], r["cnt"]) for r in spark.table("t_late").collect()}
    # hour-0 window finalized with exactly the 2 on-time events; the
    # straggler (event 5) neither re-emitted it nor created a new one
    hour0 = {(w, c) for (w, c) in out if w == base}
    assert hour0 == {(base, 2)}


def test_dedup_within_watermark(spark, stream_dir, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    _write_events_file(
        spark,
        [(1, base, 1, "a", 1.0), (1, base + m, 1, "a", 1.0), (2, base + 2 * m, 1, "b", 1.0)],
        os.path.join(stream_dir, "f1.parquet"),
    )
    _write_events_file(
        spark,
        [(1, base + 3 * m, 1, "a", 1.0), (3, base + 4 * m, 2, "c", 1.0)],
        os.path.join(stream_dir, "f2.parquet"),
    )
    dd = dedup_within_watermark(_read_simple_stream(spark, stream_dir), keys=["event_id"])
    ckpt = str(tmp_path / "ckpt_dd")
    q = (
        dd.writeStream.format("memory").queryName("t_dd")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    ids = sorted(r["event_id"] for r in spark.table("t_dd").collect())
    assert ids == [1, 2, 3]


def test_sessionize_stateful(spark, stream_dir, tmp_path):
    """Two bursts 1h apart for user 1 → first session closes when the
    second burst arrives; second closes via event-time timeout when a
    later file advances the watermark."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    _write_events_file(
        spark,
        [(1, base, 1, "a", 1.0), (2, base + 2 * m, 1, "a", 1.0), (3, base + 4 * m, 1, "a", 1.0)],
        os.path.join(stream_dir, "f1.parquet"),
    )
    _write_events_file(
        spark,
        [(4, base + dt.timedelta(hours=1), 1, "a", 1.0)],
        os.path.join(stream_dir, "f2.parquet"),
    )
    _write_events_file(
        spark,
        [(5, base + dt.timedelta(hours=3), 99, "a", 1.0)],
        os.path.join(stream_dir, "f3.parquet"),
    )
    sess = sessionize_stateful(_read_simple_stream(spark, stream_dir), gap_minutes=15)
    ckpt = str(tmp_path / "ckpt_sess")
    q = (
        sess.writeStream.format("memory").queryName("t_state")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_state").collect()
    }
    # first burst: 3 events spanning [base, base+4m]
    assert (1, base, base + 4 * m, 3) in rows
    # the 1h-later single event closed by timeout once watermark passed
    assert (1, base + dt.timedelta(hours=1), base + dt.timedelta(hours=1), 1) in rows


def test_fourmc_stream_source_incremental(spark, tmp_path):
    """fourmc streaming read: files become micro-batches as they appear."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "mc_in")
    os.makedirs(d)
    write_file(os.path.join(d, "a.4mc"), b"a1\na2\na3\n", codec="lz4", level="fast")

    sdf = spark.readStream.format("fourmc").load(d)
    assert sdf.isStreaming and sdf.schema.fieldNames() == ["offset", "value"]
    ckpt = str(tmp_path / "ckpt_mc")
    q = (
        sdf.writeStream.format("memory").queryName("t_mc")
        .outputMode("append").option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(r["value"] for r in spark.table("t_mc").collect()) == [
            "a1", "a2", "a3",
        ]
        # second sealed file arrives → ingested incrementally, the first
        # file is NOT re-read (exactly-once over the seen-files offset)
        write_file(os.path.join(d, "b.4mz"), b"b1\nb2\n", codec="zstd", level="medium")
        q.processAllAvailable()
        assert sorted(r["value"] for r in spark.table("t_mc").collect()) == [
            "a1", "a2", "a3", "b1", "b2",
        ]
    finally:
        q.stop()


def test_fourmc_stream_sink(spark, tmp_path):
    """Streaming write into sealed 4mz files, readable by the batch scan
    and checksum-verified by the format core."""
    src = str(tmp_path / "sink_src")
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt_sink")
    spark.range(500).select(
        F.concat(F.lit("row"), F.col("id")).alias("value")
    ).write.mode("overwrite").parquet(src)

    from pyspark.sql.types import StringType, StructField, StructType

    sdf = spark.readStream.schema(
        StructType([StructField("value", StringType())])
    ).parquet(src)
    q = (
        sdf.writeStream.format("fourmc")
        .option("codec", "zstd").option("level", "medium")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    back = spark.read.format("fourmc").load(out)
    assert back.count() == 500
    assert sorted(r["value"] for r in back.collect()) == sorted(
        f"row{i}" for i in range(500)
    )
    from fourmc_spark.format.reader import decompress_file

    for fn in os.listdir(out):
        if fn.endswith(".4mz"):
            decompress_file(os.path.join(out, fn))  # raises on bad checksum


def test_fourmc_stream_sink_replay_is_idempotent(tmp_path):
    """A micro-batch replayed after a failure between sink commit and
    checkpoint commit must OVERWRITE its previous output, not duplicate
    it: commit() renames staged files to names deterministic in
    (batchId, task index, file index). Driven through the writer API
    directly — two write+commit cycles with the same data and batchId
    must leave one identical file set."""
    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.format.reader import decompress_file
    from fourmc_spark.sources.stream import FourMcStreamWriter

    out = str(tmp_path / "replay_out")
    os.makedirs(out)
    schema = StructType([StructField("value", StringType())])
    rows = [f"row{i}" for i in range(300)]

    def attempt():
        w = FourMcStreamWriter(
            CaseInsensitiveDict({"path": out, "codec": "zstd"}),
            schema, overwrite=False,
        )
        msg = w.write(iter([pa.RecordBatch.from_pydict({"value": rows})]))
        w.commit([msg], batchId=7)

    attempt()
    first = sorted(os.listdir(out))
    attempt()  # replay of the SAME batch
    assert sorted(os.listdir(out)) == first
    assert [fn for fn in first if fn.endswith(".4mz")] == [
        "part-b0000000007-00000-000.4mz"
    ]
    data = bytes(decompress_file(os.path.join(out, first[-1])))
    assert data.decode().splitlines() == rows  # one copy, not two


def test_fourmc_stream_sink_partitionby(spark, tmp_path):
    """The streaming sink carries the batch sink's hive partitionby
    layout (it delegates to the same task body), so streamed output
    feeds the whole-file-pruning tier directly."""
    src = str(tmp_path / "psink_src")
    out = str(tmp_path / "psink_out")
    ckpt = str(tmp_path / "psink_ckpt")
    spark.range(400).select(
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        (F.col("id") % 3).cast("string").alias("bucket"),
    ).write.mode("overwrite").parquet(src)

    from pyspark.sql.types import StringType, StructField, StructType

    sdf = spark.readStream.schema(
        StructType([
            StructField("value", StringType()),
            StructField("bucket", StringType()),
        ])
    ).parquet(src)
    q = (
        sdf.writeStream.format("fourmc")
        .option("codec", "zstd").option("partitionby", "bucket")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted(
        d for d in os.listdir(out) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2"]
    back = spark.read.format("fourmc").option(
        "partitioncolumns", "bucket"
    ).load(out)
    counts = {r["bucket"]: r["n"] for r in
              back.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 134, "1": 133, "2": 133}


def test_stream_4mc_multibatch_takes_n_batches(spark, tmp_path):
    """The structural half of the stream_4mc_multibatch oracle query:
    files arriving after the stream's first offset drain ONE PER
    micro-batch under maxfilespertrigger=1 (the first offset is
    unbounded by design — offset-chain safety, see the reader), and
    every row is read exactly once across the batch sequence."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "mb_in")
    os.makedirs(d)

    def mk(i):
        write_file(
            os.path.join(d, f"f{i}.4mz"),
            b"".join(f"r{i}-{j}\n".encode() for j in range(20)),
            codec="zstd", level="fast",
        )

    mk(0)  # the seed file rides the unbounded first offset
    sdf = (
        spark.readStream.format("fourmc")
        .option("maxfilespertrigger", 1).load(d)
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_mb")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        for i in range(1, 5):  # backlog arrives AFTER the first offset
            mk(i)
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 5, (
            "expected the 4 late files to drain one per micro-batch, got "
            f"{[p['numInputRows'] for p in q.recentProgress]}"
        )
        assert max(p["numInputRows"] for p in batches) <= 20
        rows = sorted(r["value"] for r in spark.table("t_mb").collect())
        assert rows == sorted(
            f"r{i}-{j}" for i in range(5) for j in range(20)
        )
    finally:
        q.stop()


def test_stream_source_max_files_per_trigger(tmp_path):
    """maxfilespertrigger bounds each micro-batch to N new files after
    the first committed offset (FileStreamSource rate-limit analog) —
    driven through the reader's offset API directly."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.stream import FourMcStreamReader

    d = str(tmp_path / "rate_in")
    os.makedirs(d)
    for i in range(5):
        write_file(
            os.path.join(d, f"f{i}.4mc"), f"row{i}\n".encode(),
            codec="lz4", level="fast",
        )
    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    r = FourMcStreamReader({"path": d, "maxfilespertrigger": "2"}, schema)

    def seen(off):
        return set(json.loads(off["seen"]))

    # FIRST latestOffset on any instance is UNBOUNDED: the engine's
    # current offset (checkpoint or a prior instance's return) is
    # invisible, the engine may call latestOffset before initialOffset
    # and adopts whatever it gets as the next start — a capped (smaller)
    # first offset regressed the chain and double-ingested (measured,
    # round 8). "All files" is safe because sealed files never vanish.
    first = r.latestOffset()
    assert len(seen(first)) == 5
    # files arriving AFTER the first offset drain capped, 2 per trigger
    for i in range(5, 10):
        write_file(
            os.path.join(d, f"f{i}.4mc"), f"row{i}\n".encode(),
            codec="lz4", level="fast",
        )
    nxt = r.latestOffset()
    assert len(seen(nxt)) == 7  # 5 + capped 2 of the 5 new
    assert len(seen(r.latestOffset())) == 9  # next 2
    # every offset is a superset of every earlier one (the invariant)
    assert seen(first) <= seen(nxt)
    # async commit of an older offset must only GROW the mark
    r.commit(first)
    final = r.latestOffset()
    assert seen(nxt) <= seen(final) and len(seen(final)) == 10
    # partitions between consecutive offsets touch only the new files
    parts = r.partitions(first, nxt)
    assert len({p.path for p in iter_slices(parts) if p.path}) == 2


def test_stream_source_ordered_names_o1_offsets(tmp_path):
    """orderednames=true keeps offsets O(1) — {"hwm": <name>} instead of
    the O(total files) seen-set JSON — for producers whose names sort in
    arrival order (our streaming sink). Same monotone-mark invariant:
    offsets never regress, rate limit applies after the unbounded first
    offset, and an out-of-order arrival below the mark raises loudly."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.stream import FourMcStreamReader

    d = str(tmp_path / "ord_in")
    os.makedirs(d)

    def mk(name):
        write_file(os.path.join(d, name), b"x\n", codec="lz4", level="fast")

    for i in range(3):
        mk(f"b{i:03d}.4mc")
    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    r = FourMcStreamReader(
        {"path": d, "orderednames": "true", "maxfilespertrigger": "2"},
        schema,
    )
    first = r.latestOffset()
    assert set(first) == {"hwm", "n"} and first["hwm"].endswith("b002.4mc")
    assert first["n"] == 3  # count at/below the mark rides the offset
    # late arrivals drain capped, and the offset stays a single name
    for i in range(3, 8):
        mk(f"b{i:03d}.4mc")
    nxt = r.latestOffset()
    assert nxt["hwm"].endswith("b004.4mc")  # 2 of the 5 new
    parts = r.partitions(first, nxt)
    assert len({p.path for p in iter_slices(parts) if p.path}) == 2
    assert r.latestOffset()["hwm"].endswith("b006.4mc")
    r.commit(nxt)  # async old commit must not regress the mark
    assert r.latestOffset()["hwm"].endswith("b007.4mc")
    # a NEW file sorting below the mark would be silently lost: loud-fail
    mk("a000.4mc")
    with _pytest.raises(ValueError, match="orderednames"):
        r.latestOffset()


def test_stream_source_startafter_two_phase_backfill(spark, tmp_path):
    """startafter=<basename> (orderednames only): the stream half of the
    two-phase backfill recipe — a fresh checkpoint starts AT the cut,
    so batch 0 plans only post-cut arrivals instead of the whole
    backlog; the backlog is the batch job's business."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.stream import FourMcStreamReader

    d = str(tmp_path / "sa_in")
    os.makedirs(d)

    def mk(name):
        write_file(os.path.join(d, name), f"{name}\n".encode(),
                   codec="lz4", level="fast")

    for i in range(5):
        mk(f"b{i:03d}.4mc")
    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    with _pytest.raises(ValueError, match="startafter"):
        FourMcStreamReader({"path": d, "startafter": "b002.4mc"}, schema)
    r = FourMcStreamReader(
        {"path": d, "orderednames": "true", "startafter": "b002.4mc"},
        schema,
    )
    init = r.initialOffset()
    assert init == {"hwm": "b002.4mc", "n": 3}
    first = r.latestOffset()
    parts = r.partitions(init, first)
    assert sorted(os.path.basename(p.path)
                  for p in iter_slices(parts) if p.path) == [
        "b003.4mc", "b004.4mc"
    ]
    # empty/fully-backfilled listing: the seed must HOLD at the cut —
    # a "" seed would adopt "" as the next start and re-ingest the
    # backlog once new files arrive
    d2 = str(tmp_path / "sa_empty")
    os.makedirs(d2)
    r2 = FourMcStreamReader(
        {"path": d2, "orderednames": "true", "startafter": "z999.4mc"},
        schema,
    )
    assert r2.latestOffset()["hwm"] == "z999.4mc"
    # end-to-end: the memory sink sees only the post-cut file
    sdf = (
        spark.readStream.format("fourmc")
        .option("orderednames", "true")
        .option("startafter", "b003.4mc").load(d)
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_sa")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(x["value"] for x in spark.table("t_sa").collect())
        assert rows == ["b004.4mc"]
    finally:
        q.stop()


def test_stream_source_ordered_names_restart_stray_detected(tmp_path):
    """A stray dropped below the mark while NO instance was live must
    still be caught after restart: the offset's persisted at/below
    count lets a FRESH reader's partitions() see that the listing
    outgrew the checkpointed mark (the r8-advice restart hole)."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.sources.stream import FourMcStreamReader

    d = str(tmp_path / "ord_restart")
    os.makedirs(d)

    def mk(name):
        write_file(os.path.join(d, name), b"x\n", codec="lz4", level="fast")

    schema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    mk("b000.4mc")
    mk("b001.4mc")
    r1 = FourMcStreamReader({"path": d, "orderednames": "true"}, schema)
    start = r1.latestOffset()
    mk("b002.4mc")
    end = r1.latestOffset()
    del r1  # crash after the offsets were checkpointed
    mk("a999.4mc")  # stray lands below the mark with nobody watching
    r2 = FourMcStreamReader({"path": d, "orderednames": "true"}, schema)
    with _pytest.raises(ValueError, match="below the\\s+checkpointed"):
        r2.partitions(start, end)
    # with the stray gone the same replay plans exactly the late file
    os.remove(os.path.join(d, "a999.4mc"))
    parts = r2.partitions(start, end)
    assert [os.path.basename(p.path) for p in iter_slices(parts) if p.path] == [
        "b002.4mc"
    ]


def test_stream_source_ordered_names_end_to_end(spark, tmp_path):
    """Engine-level: the streaming sink's batch-id names feed
    orderednames=true ingestion exactly-once across late arrivals."""
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path / "ord_e2e")
    os.makedirs(d)
    write_file(os.path.join(d, "b000.4mz"), b"r0\n", codec="zstd",
               level="fast")
    sdf = (
        spark.readStream.format("fourmc")
        .option("orderednames", "true")
        .option("maxfilespertrigger", 1).load(d)
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_ord")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        for i in range(1, 4):
            write_file(os.path.join(d, f"b{i:03d}.4mz"),
                       f"r{i}\n".encode(), codec="zstd", level="fast")
        q.processAllAvailable()
        rows = sorted(r["value"] for r in spark.table("t_ord").collect())
        assert rows == ["r0", "r1", "r2", "r3"]
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 4  # one per late file under the cap
    finally:
        q.stop()


def test_stream_sink_replay_with_different_split_supersedes(spark, tmp_path):
    """The failure the r8 advice flagged: a micro-batch replayed after a
    crash may re-plan into a different task/file split. Two cases split
    by the _fourmc_sink_done marker (review finding r9):

    * crash BETWEEN sink commit and checkpoint commit (the common
      window — DONE recorded): the finished first attempt STANDS and
      the replay is discarded, because a live ordered-names consumer
      may already hold the first attempt's names as ingested offsets —
      re-renaming to a 1-task layout would feed it part-b...-00000
      twice under a fresh above-the-hwm name... or strand nothing but
      duplicate everything;
    * crash MID-RENAME (DONE not recorded — first attempt partial on
      disk): the replay sweeps part-b{batchId} files from every dir it
      touches and fully supersedes, hive partitionby layouts included.
    """
    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.sources.stream import FourMcStreamWriter

    out = str(tmp_path / "replay_out")
    os.makedirs(out)
    wschema = StructType([
        StructField("value", StringType()),
        StructField("bucket", StringType()),
    ])
    rows = [(f"v{i}", str(i % 2)) for i in range(20)]

    def attempt(row_slices):
        """One commit of batch 7 planned as len(row_slices) tasks."""
        w = FourMcStreamWriter(
            CaseInsensitiveDict(
                {"path": out, "codec": "zstd", "partitionby": "bucket"}
            ),
            wschema, overwrite=False,
        )
        msgs = [
            w.write(iter([pa.RecordBatch.from_pydict(
                {"value": [r[0] for r in sl], "bucket": [r[1] for r in sl]}
            )]))
            for sl in row_slices
        ]
        w.commit(msgs, batchId=7)

    def part_files():
        return {
            os.path.relpath(os.path.join(r, f), out)
            for r, _d, fs in os.walk(out)
            for f in fs if f.startswith("part-")
        }

    def read_back():
        return sorted(
            r["value"]
            for r in spark.read.format("fourmc").load(out).collect()
        )

    want = sorted(r[0] for r in rows)

    # first attempt: 4 tasks (5 rows each, both buckets per task)
    attempt([rows[i:i + 5] for i in range(0, 20, 5)])
    four_task = part_files()
    assert len({p.split("/")[-1].split("-")[2] for p in four_task}) == 4

    # case 1 — first commit FINISHED (DONE=7 on disk): a replay of the
    # same batch re-planned as ONE task must no-op; the first attempt's
    # files stand byte-for-byte and no staging leaks
    attempt([rows])
    assert part_files() == four_task, (
        "a completed commit was mutated by a replay — a live "
        "ordered-names consumer would see duplicates"
    )
    assert read_back() == want
    assert not os.path.exists(os.path.join(out, "_temporary"))

    # case 2 — crash MID-RENAME: DONE never recorded for batch 7 and
    # one of the first attempt's files is missing. The replay must
    # sweep the partial attempt and fully supersede it.
    os.remove(os.path.join(out, "_fourmc_sink_done"))
    victim = sorted(four_task)[0]
    os.remove(os.path.join(out, victim))
    attempt([rows])
    back = read_back()
    assert back == want, (
        "stranded first-attempt files duplicated rows on read-back"
    )
    survivors = {f for _r, _d, fs in os.walk(out)
                 for f in fs if f.startswith("part-")}
    assert all("-00000-" in f for f in survivors), survivors


def test_stream_sink_feeds_ordered_consumer_multibatch(spark, tmp_path):
    """Structural half of the stream_4mc_ordered_multibatch oracle
    query: a REAL producer stream (4mc source -> 4mc streaming sink,
    hive partitionby) seals ascending part-b{batchId} files across
    micro-batches, and a consumer with orderednames=true +
    maxfilespertrigger=1 drains each late file in its own micro-batch,
    exactly once, through the O(1) basename-hwm offset chain."""
    from fourmc_spark.format.writer import write_file

    live_in = str(tmp_path / "omb_in")
    sink_out = str(tmp_path / "omb_out")
    ckpt = str(tmp_path / "omb_ckpt")
    os.makedirs(live_in)
    os.makedirs(sink_out)

    def feed(i):
        write_file(
            os.path.join(live_in, f"src{i}.4mz"),
            b"".join(f"x{i}-{j}|{i % 2}\n".encode() for j in range(10)),
            codec="zstd", level="fast",
        )

    feed(0)
    psrc = (
        spark.readStream.format("fourmc").load(live_in)
        .select("value", F.split("value", r"\|")[1].alias("bucket"))
    )
    prod = (
        psrc.writeStream.format("fourmc").option("codec", "zstd")
        .option("partitionby", "bucket").option("path", sink_out)
        .option("checkpointLocation", ckpt).start()
    )
    cons = None
    try:
        prod.processAllAvailable()  # sink batch 0
        sdf = (
            spark.readStream.format("fourmc")
            .option("orderednames", "true")
            .option("maxfilespertrigger", 1).load(sink_out)
        )
        cons = (
            sdf.writeStream.format("memory").queryName("t_omb")
            .outputMode("append").start()
        )
        cons.processAllAvailable()  # catch-up: batch-0 files
        for i in range(1, 4):
            feed(i)
            prod.processAllAvailable()  # sink batch i, names above hwm
            cons.processAllAvailable()
        rows = sorted(r["value"] for r in spark.table("t_omb").collect())
        assert rows == sorted(
            f"x{i}-{j}|{i % 2}" for i in range(4) for j in range(10)
        )
        batches = [p for p in cons.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 4, (
            f"expected >=4 consumer micro-batches, got "
            f"{[p['numInputRows'] for p in cons.recentProgress]}"
        )
        # one sealed file (10 rows) per steady-state trigger
        assert max(p["numInputRows"] for p in batches) <= 10
    finally:
        if cons is not None:
            cons.stop()
        prod.stop()


def test_stream_source_ordered_names_composes_with_partitionby(tmp_path):
    """The review-flagged composition: the streaming sink's hive
    partitionby layout must satisfy orderednames' contract — ordering
    is by BASENAME (part-b{batchId}-… ascends across batches), so
    directory components (bucket=…) cannot reorder arrivals."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources.stream import FourMcStreamReader, FourMcStreamWriter

    out = str(tmp_path / "comp_out")
    os.makedirs(out)
    wschema = StructType([
        StructField("value", StringType()),
        StructField("bucket", StringType()),
    ])

    def sink_batch(batch_id, rows):
        w = FourMcStreamWriter(
            CaseInsensitiveDict(
                {"path": out, "codec": "zstd", "partitionby": "bucket"}
            ),
            wschema, overwrite=False,
        )
        msg = w.write(iter([pa.RecordBatch.from_pydict(
            {"value": [r[0] for r in rows], "bucket": [r[1] for r in rows]}
        )]))
        w.commit([msg], batchId=batch_id)

    rschema = StructType(
        [StructField("offset", LongType()), StructField("value", StringType())]
    )
    r = FourMcStreamReader(
        {"path": out, "orderednames": "true", "maxfilespertrigger": "8"},
        rschema,
    )
    # batch 1 lands in bucket=2 (lexicographically HIGH dir), then batch
    # 2 in bucket=0 (LOW dir): full-path ordering would see a regression;
    # basename ordering must not
    sink_batch(1, [("a1", "2"), ("a2", "2")])
    first = r.latestOffset()
    sink_batch(2, [("b1", "0"), ("b2", "0")])
    nxt = r.latestOffset()
    assert first["hwm"] < nxt["hwm"]  # no ValueError, mark advanced
    parts = r.partitions(first, nxt)
    new_dirs = {p.path.split("bucket=")[1].split("/")[0]
                for p in iter_slices(parts) if p.path}
    assert new_dirs == {"0"}  # exactly the late batch's files


def test_stream_source_ordered_names_skips_a_commit_still_landing(
    tmp_path, monkeypatch
):
    """The sink lands one batch's files one hive dir at a time, and a
    consumer walk can visit ``bucket=0`` before its ``…-000`` lands and
    ``bucket=1`` after ``…-001`` does; the mark then jumps past
    ``…-000`` and the next trigger raises the stray error. The offset
    must cover whole commits only: one taken between two ``land`` calls
    of batch 1 stays at batch 0's mark, and the next takes all of
    batch 1."""
    import pyarrow as pa
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.sources import stream
    from fourmc_spark.sources.stream import FourMcStreamReader, FourMcStreamWriter

    out = str(tmp_path / "race_out")
    os.makedirs(out)
    wschema = StructType([
        StructField("value", StringType()),
        StructField("bucket", StringType()),
    ])

    def sink_batch(batch_id, rows):
        w = FourMcStreamWriter(
            CaseInsensitiveDict(
                {"path": out, "codec": "zstd", "partitionby": "bucket"}
            ),
            wschema, overwrite=False,
        )
        msg = w.write(iter([pa.RecordBatch.from_pydict(
            {"value": [r[0] for r in rows], "bucket": [r[1] for r in rows]}
        )]))
        w.commit([msg], batchId=batch_id)

    r = FourMcStreamReader(
        {"path": out, "orderednames": "true"},
        StructType([StructField("offset", LongType()),
                    StructField("value", StringType())]),
    )
    sink_batch(0, [("a0", "0"), ("a1", "1")])
    first = r.latestOffset()
    assert first == {"hwm": "part-b0000000000-00000-001.4mz", "n": 2}

    mid = []
    real_land = stream.land

    def land(staged, final):
        real_land(staged, final)
        if not mid:  # the consumer's trigger fires between two lands
            mid.append(r.latestOffset())

    monkeypatch.setattr(stream, "land", land)
    sink_batch(1, [("b0", "0"), ("b1", "1")])
    assert mid == [first], "an offset took half of a landing commit"
    end = r.latestOffset()
    assert end == {"hwm": "part-b0000000001-00000-001.4mz", "n": 4}
    got = sorted(
        v for p in r.partitions(first, end)
        for b in r.read(p) for v in b.column("value").to_pylist()
    )
    assert got == ["b0", "b1"]


def test_cdc_apply_stream_merges_across_batches(spark, tmp_path):
    """3 changelog files drained one-per-trigger must compact to the same
    snapshot as a single batch latest-wins election over all rows."""
    import pandas as pd

    from fourmc_spark.streaming import cdc_apply_stream, read_cdc_state

    src = tmp_path / "cdc-src"
    src.mkdir()
    # (user, seq, value, op) spread across three files; user 3's newest
    # row (seq 9) is a delete in file 2, and file 3 carries an OLDER
    # upsert (seq 8) for user 3 — it must not resurrect the key
    files = [
        [(1, 1, 10.0, "upsert"), (2, 2, 20.0, "upsert"), (3, 3, 30.0, "upsert")],
        [(1, 4, 11.0, "upsert"), (3, 9, 0.0, "delete")],
        [(2, 5, 22.0, "upsert"), (3, 8, 33.0, "upsert")],
    ]
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["user_id", "seq", "value", "op"]).to_parquet(
            src / f"f{i}.parquet"
        )
    schema = spark.read.parquet(str(src)).schema
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    state = str(tmp_path / "cdc-state")
    q = (
        cdc_apply_stream(changes, state, ["user_id"], ["seq"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["seq"], r["value"])
        for r in read_cdc_state(spark, state).collect()
    }
    assert got == {1: (4, 11.0), 2: (5, 22.0)}  # user 3 stays deleted


def test_cdc_apply_stream_matches_batch_apply_changes(spark, sf_dir):
    from pyspark.sql import functions as F

    from fourmc_spark.queries import QUERIES
    from fourmc_spark.operators import timeseries

    got = QUERIES["stream_cdc_apply"](spark, sf_dir).collect()
    from fourmc_spark.events import load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    empty = spark.createDataFrame([], ev.schema)
    want = (
        timeseries.apply_changes(empty, ev, ["user_id"], ["ts", "event_id"])
        .select(
            "user_id",
            F.col("event_id").alias("version_event"),
            F.round("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_dedup_ingest_stream_incremental(spark, tmp_path):
    # batch 2 documents must be gated against the corpus ADMITTED from
    # batch 1, not just within-batch — the continuous-ingest property
    import os

    from fourmc_spark.streaming import dedup_ingest_stream, read_dedup_state

    base = "the quick brown fox jumps over the lazy dog again and again"
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    b1 = spark.createDataFrame(
        [
            (0, base, "s"),
            (1, "completely different text about spark engines at scale", "s"),
            (2, base, "s"),  # within-batch dup of 0 -> rejected
        ],
        ["doc_id", "text", "source"],
    )
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))

    schema = b1.schema
    sdf = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()
    admitted1 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
    assert admitted1 == {0, 1}

    b2 = spark.createDataFrame(
        [
            (10, base, "s"),  # cross-batch dup of corpus doc 0 -> rejected
            (11, "a genuinely novel document mentioning tokenizers", "s"),
        ],
        ["doc_id", "text", "source"],
    )
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b2.parquet"))
    q.processAllAvailable()
    q.stop()
    admitted2 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
    assert admitted2 == {0, 1, 11}


def test_dedup_ingest_state_is_append_only(spark, tmp_path):
    # the manifest layout must never rewrite committed batch dirs:
    # batch 2's commit leaves batch 1's files byte-identical (this is
    # the O(batch)-per-batch property the layout exists for), and the
    # manifest grows by exactly one entry per non-empty batch
    import json
    import os

    from fourmc_spark.streaming import dedup_ingest_stream, read_dedup_state

    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    b1 = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta", "s")],
        ["doc_id", "text", "source"],
    )
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))
    sdf = spark.readStream.schema(b1.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()

    def snapshot_files():
        out = {}
        for root, _, files in os.walk(os.path.join(state, "batches")):
            for f in files:
                p = os.path.join(root, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    with open(os.path.join(state, "_MANIFEST")) as f:
        names1 = json.load(f)["batches"]
    assert len(names1) == 1
    before = snapshot_files()

    b2 = spark.createDataFrame(
        [(5, "totally different words entirely here now", "s")],
        ["doc_id", "text", "source"],
    )
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b2.parquet"))
    q.processAllAvailable()
    q.stop()

    with open(os.path.join(state, "_MANIFEST")) as f:
        names2 = json.load(f)["batches"]
    assert names2[:1] == names1 and len(names2) == 2
    after = snapshot_files()
    for p, meta in before.items():
        assert after[p] == meta, f"batch-1 file rewritten: {p}"
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == {0, 5}


def test_dedup_ingest_compaction(spark, tmp_path):
    # compact_dedup_state coalesces the manifest's per-batch dirs into
    # one; admitted rows are unchanged, replay protection (seen ids)
    # survives, and a post-compaction batch is still gated against the
    # compacted corpus through its rebuilt signature index
    import json
    import os

    from fourmc_spark.streaming import (
        compact_dedup_state,
        dedup_ingest_stream,
        read_dedup_state,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    schema = "doc_id long, text string, source string"
    b1 = spark.createDataFrame([(0, base, "s"), (1, "first other text with several words", "s")], schema)
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))
    sdf = spark.readStream.schema(b1.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()
    b2 = spark.createDataFrame([(5, "second batch genuinely new content entirely", "s")], schema)
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b2.parquet"))
    q.processAllAvailable()
    q.stop()

    before = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
    assert before == {0, 1, 5}
    name = compact_dedup_state(spark, state)
    with open(os.path.join(state, "_MANIFEST")) as f:
        m = json.load(f)
    assert m["batches"] == [name] and m["max_seen"] == 1
    assert os.listdir(os.path.join(state, "batches")) == [name]
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == before

    # batch 3 after compaction: near-dup of doc 0 rejected, novel kept
    q2 = dedup_ingest_stream(sdf, state).start()
    b3 = spark.createDataFrame(
        [(10, base, "s"), (11, "third wave completely fresh material", "s")],
        schema,
    )
    b3.coalesce(1).write.parquet(os.path.join(in_dir, "b3.parquet"))
    q2.processAllAvailable()
    q2.stop()
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == {0, 1, 5, 11}


def test_dedup_ingest_all_rejected_batch_does_not_poison_state(spark, tmp_path):
    # a batch whose EVERY row near-dups the corpus must commit no dir
    # (a dataless dynamic-partition dir would crash later reads with
    # UNABLE_TO_INFER_SCHEMA) while still recording the batch id; the
    # stream must keep working afterwards
    import json
    import os

    from fourmc_spark.streaming import dedup_ingest_stream, read_dedup_state

    base = "the quick brown fox jumps over the lazy dog again and again"
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    schema = "doc_id long, text string, source string"
    b1 = spark.createDataFrame([(0, base, "s")], schema)
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))
    sdf = spark.readStream.schema(b1.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()

    # batch 2: only near-dups -> nothing admitted
    b2 = spark.createDataFrame([(5, base, "s"), (6, base, "s")], schema)
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b2.parquet"))
    q.processAllAvailable()
    with open(os.path.join(state, "_MANIFEST")) as f:
        m = json.load(f)
    assert len(m["batches"]) == 1 and m["max_seen"] == 1
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} == {0}

    # batch 3 after the all-rejected batch: state still functional
    b3 = spark.createDataFrame(
        [(9, "entirely new material for the third batch", "s")], schema
    )
    b3.coalesce(1).write.parquet(os.path.join(in_dir, "b3.parquet"))
    q.processAllAvailable()
    q.stop()
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == {0, 9}


def test_dedup_ingest_auto_compaction(spark, tmp_path):
    # compact_every=2: after the second committed dir the commit runs
    # compaction inline, so the manifest never grows past 2 dirs and
    # results stay identical
    import json
    import os

    from fourmc_spark.streaming import dedup_ingest_stream, read_dedup_state

    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    schema = "doc_id long, text string, source string"
    sdf_schema = spark.createDataFrame([], schema).schema
    sdf = spark.readStream.schema(sdf_schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state, compact_every=2).start()
    for i, txt in enumerate([
        "alpha beta gamma delta words one",
        "epsilon zeta eta theta words two",
        "iota kappa lambda mu words three",
    ]):
        spark.createDataFrame([(i, txt, "s")], schema).coalesce(1).write.parquet(
            os.path.join(in_dir, f"b{i}.parquet")
        )
        q.processAllAvailable()
    q.stop()
    with open(os.path.join(state, "_MANIFEST")) as f:
        m = json.load(f)
    assert len(m["batches"]) <= 2 and m["max_seen"] == 2
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == {0, 1, 2}


def test_dedup_ingest_parts_recorded_in_manifest(spark, tmp_path, monkeypatch):
    # the bucket layout constants are recorded at state creation and
    # reused thereafter: raising the module constants between runs must
    # not corrupt replay protection or pruning on existing state
    import json
    import os

    import fourmc_spark.operators.dedup as D
    from fourmc_spark.streaming import dedup_ingest_stream, read_dedup_state

    base = "the quick brown fox jumps over the lazy dog again and again"
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    schema = "doc_id long, text string, source string"
    b1 = spark.createDataFrame([(0, base, "s")], schema)
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))
    sdf = spark.readStream.schema(b1.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()
    q.stop()
    with open(os.path.join(state, "_MANIFEST")) as f:
        m = json.load(f)
    assert m["id_parts"] == D.ID_INDEX_PARTS
    assert m["sig_parts"] == D.SIG_INDEX_PARTS

    # simulate a redeploy with raised constants: batch 2 carries a
    # near-dup of doc 0 AND an exact replay row (same id); both must
    # still be rejected because probes use the RECORDED parts
    monkeypatch.setattr(D, "ID_INDEX_PARTS", 4096)
    monkeypatch.setattr(D, "SIG_INDEX_PARTS", 4096)
    b2 = spark.createDataFrame(
        [(0, base, "s"), (7, base, "s"),
         (8, "genuinely novel words for the second run", "s")],
        schema,
    )
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b2.parquet"))
    q2 = dedup_ingest_stream(sdf, state).start()
    q2.processAllAvailable()
    q2.stop()
    assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} \
        == {0, 8}


def test_dedup_ingest_checkpoint_wipe_raises(spark, tmp_path):
    # replay protection is batch-id-only and batch ids restart at 0
    # when the pinned checkpoint is wiped — committed state with no
    # checkpoint would silently SKIP genuinely new batches, so stream
    # construction must refuse loudly instead
    import os
    import shutil

    import pytest

    from fourmc_spark.streaming import dedup_ingest_stream

    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    os.makedirs(in_dir)
    schema = "doc_id long, text string, source string"
    b1 = spark.createDataFrame(
        [(0, "alpha beta gamma delta words one", "s")], schema
    )
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "b1.parquet"))
    sdf = spark.readStream.schema(b1.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(in_dir)
    q = dedup_ingest_stream(sdf, state).start()
    q.processAllAvailable()
    q.stop()

    shutil.rmtree(os.path.join(state, "_checkpoint"))
    with pytest.raises(ValueError, match="checkpoint"):
        dedup_ingest_stream(sdf, state)


def test_dedup_ingest_manifest_missing_parts_raises(spark, tmp_path):
    # the bucket layout is recorded at state creation and is part of
    # the state's identity: a manifest that lists batches but lacks the
    # partition counts is corrupt — defaulting would silently mis-prune
    import json
    import os

    import pytest

    from fourmc_spark.streaming.ops import _manifest_read

    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, "_MANIFEST"), "w") as f:
        json.dump({"batches": ["b0-deadbeef"], "max_seen": 0}, f)
    with pytest.raises(ValueError, match="id_parts"):
        _manifest_read(state)


def test_dedup_ingest_reads_legacy_seen_ids_manifest(spark, tmp_path):
    # pre-high-water-mark manifests carried the full seen-id list; they
    # must read back as max(seen_ids) so replay protection carries over
    import json
    import os

    from fourmc_spark.streaming.ops import _manifest_read

    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, "_MANIFEST"), "w") as f:
        json.dump(
            {"batches": [], "seen_ids": [0, 1, 2],
             "id_parts": 64, "sig_parts": 64},
            f,
        )
    names, hwm, id_parts, sig_parts = _manifest_read(state)
    assert hwm == 2 and id_parts == 64 and sig_parts == 64


# ---------------------------------------------------------------------------
# Streaming heavy hitters (r10): MG sketch as keyed state across batches
# ---------------------------------------------------------------------------

def _hh_stream_run(spark, tmp_path, docs_rows, phi, n_files=4):
    """Seal docs into n_files, stream them in >= n_files micro-batches
    through the sketch, return (emissions_df, corpus_df)."""
    import glob as _glob
    import uuid as _uuid

    from fourmc_spark.streaming import heavy_hitters_sketch_stream

    root = str(tmp_path / "hhstream")
    staged, live, ckpt = f"{root}/staged", f"{root}/live", f"{root}/ckpt"
    ddl = "doc_id bigint, text string"
    df = spark.createDataFrame(docs_rows, ddl)
    (df.repartition(n_files)
       .select(F.to_json(F.struct("doc_id", "text")).alias("value"))
       .write.format("fourmc").option("codec", "zstd")
       .mode("overwrite").save(staged))
    files = sorted(_glob.glob(f"{staged}/part-*.4mz"))
    os.makedirs(live)
    os.rename(files[0], f"{live}/{os.path.basename(files[0])}")
    sdf = (spark.readStream.format("fourmc")
           .option("maxfilespertrigger", "1").load(live)
           .select(F.from_json("value", ddl).alias("r")).select("r.*"))
    name = f"thh_{_uuid.uuid4().hex[:10]}"
    q = (heavy_hitters_sketch_stream(sdf, phi=phi)
         .writeStream.format("memory").queryName(name)
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        for f in files[1:]:
            os.rename(f, f"{live}/{os.path.basename(f)}")
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    corpus = (spark.read.format("fourmc").load(live)
              .select(F.from_json("value", ddl).alias("r")).select("r.*"))
    return spark.table(name), corpus


def test_stream_heavy_hitters_matches_batch_exact(spark, tmp_path):
    from fourmc_spark.operators.text import heavy_hitters
    from fourmc_spark.streaming import heavy_hitters_finalize

    rows = []
    did = 0
    for i in range(1, 40):
        for j in range(400 // i):
            rows.append((did, f"t{i:03d} filler-{did}"))
            did += 1
    emissions, corpus = _hh_stream_run(spark, tmp_path, rows, phi=0.01)
    # the state version advanced across multiple micro-batches
    assert emissions.agg(F.max("ver")).first()[0] >= 4
    got = [(r["token"], r["cnt"]) for r in
           heavy_hitters_finalize(emissions, corpus, phi=0.01).collect()]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    want = [(r["token"], r["cnt"]) for r in
            heavy_hitters(df, phi=0.01).collect()]
    assert got == want and len(got) > 0


def test_stream_heavy_hitters_survives_eviction_across_batches(
    spark, tmp_path
):
    """phi=0.05 -> m=40 per bucket; hundreds of once-only decoys force
    constant reductions while the two true heavy tokens are spread so
    no single micro-batch alone certifies them — only state carried
    across commits can."""
    from fourmc_spark.streaming import heavy_hitters_finalize

    rows = []
    did = 0
    for p in range(6):
        for _ in range(30):
            rows.append((did, "hot cold"))
            did += 1
        for j in range(400):
            rows.append((did, f"decoy-{p}-{j}"))
            did += 1
    emissions, corpus = _hh_stream_run(
        spark, tmp_path, rows, phi=0.05, n_files=6
    )
    got = heavy_hitters_finalize(emissions, corpus, phi=0.05).collect()
    assert {r["token"] for r in got} == {"hot", "cold"}
    # per-bucket emissions stay state-sized: <= m+1 rows per version
    m = 40
    counts = (emissions.groupBy("bucket", "ver").count()
              .agg(F.max("count")).first()[0])
    assert counts <= m + 1


def test_typed_stream_source(spark, tmp_path):
    """The typed record scan composes with the STREAM source: the
    micro-batch reader delegates to the batch reader, so
    readStream.option('jsonschema'/'csvschema', ddl) yields typed
    columns per trigger — watermarks and event-time windows run on real
    columns with no from_json/from_csv boilerplate."""
    import glob
    import os
    import uuid

    ddl = "k bigint, name string"
    root = str(tmp_path / "typedstream")
    live = f"{root}/live"
    os.makedirs(live)
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id") % 5).alias("name"),
    )
    for fmt, conv, opt in (
        ("json", F.to_json, "jsonschema"),
        ("csv", F.to_csv, "csvschema"),
    ):
        sub = f"{live}/{fmt}"
        os.makedirs(sub)
        (df.coalesce(1).select(conv(F.struct("k", "name")).alias("value"))
           .write.format("fourmc").option("codec", "zstd")
           .mode("overwrite").save(f"{root}/staged-{fmt}"))
        for f in glob.glob(f"{root}/staged-{fmt}/*.4mz"):
            os.rename(f, f"{sub}/{os.path.basename(f)}")
        name = f"tst_{uuid.uuid4().hex[:8]}"
        sdf = spark.readStream.format("fourmc").option(opt, ddl).load(sub)
        assert sdf.schema.simpleString() == "struct<k:bigint,name:string>"
        q = (sdf.groupBy("name").agg(F.sum("k").alias("s"))
             .writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", f"{root}/ckpt-{fmt}").start())
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        got = sorted((r["name"], r["s"]) for r in spark.table(name).collect())
        assert got == [("n0", 950), ("n1", 970), ("n2", 990),
                       ("n3", 1010), ("n4", 1030)]


def test_pinned_shuffle_width_validates_and_restores(spark):
    """The drain-width pin (r10) takes raw env-string overrides
    (FOURMC_STREAM_SHUFFLE_PARTITIONS / FOURMC_HH_STATE_PARTITIONS), so
    it must reject non-positive-integer widths loudly BEFORE touching
    the session conf — "" / "8x" / "0" written into
    spark.sql.shuffle.partitions would otherwise kill the drain
    mid-stream with an opaque JVM error — and must restore the caller's
    width on exit."""
    from fourmc_spark.streaming import pinned_shuffle_width

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for bad in ("", "8x", "0", 0, -2, None):
        with pytest.raises(ValueError, match="positive integer"):
            with pinned_shuffle_width(spark, bad):
                pass  # pragma: no cover - must not be reached
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with pinned_shuffle_width(spark, "6"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_conf_helpers_leave_session_conf_as_found(spark, tmp_path):
    """Every helper that sets session conf gives it back on exit:
    runtime_bloom_filters, pinned_shuffle_width, and the nanosAsLong flag
    that load_events and read_events_stream set only while Spark infers
    the parquet schema. A TIMESTAMP(NANOS) file inferred under the flag
    still scans, batch and streaming, once it is unset."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fourmc_spark.events import NANOS_AS_LONG, load_events
    from fourmc_spark.plans import runtime_bloom_filters
    from fourmc_spark.plans.runtime_filters import _CONFS
    from fourmc_spark.streaming import pinned_shuffle_width

    keys = [NANOS_AS_LONG, "spark.sql.shuffle.partitions", *_CONFS]

    def conf():
        return {k: spark.conf.get(k, None) for k in keys}

    before = conf()
    for enabled in (True, False):
        with runtime_bloom_filters(spark, enabled=enabled):
            assert spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.enabled"
            ) == str(enabled).lower()
        assert conf() == before
    with pinned_shuffle_width(spark, "3"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert conf() == before

    d = tmp_path / "nanos"
    d.mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(d / "ev.parquet"), version="2.6",
    )
    want = [n // 1000 for n in ns]
    ev = load_events(spark, str(d / "ev.parquet"))
    assert conf() == before
    got = ev.orderBy("event_id").select(F.unix_micros("ts")).collect()
    assert [r[0] for r in got] == want
    stream = read_events_stream(spark, str(d / "ev.parquet"))
    assert conf() == before
    q = (stream.select("event_id", F.unix_micros("ts").alias("us"))
         .writeStream.format("memory").queryName("nanos_events")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("nanos_events").orderBy("event_id").collect()
    assert [r["us"] for r in got] == want
    assert conf() == before


def test_drain_width_scales_with_volume_and_clamps(spark):
    """drain_width (r11) replaces run_to_memory's fixture-tuned constant
    8: ~4 MiB of source bytes per reduce partition, floor 4, clamped to
    the session width — so the memory-sink drain is right-sized for the
    gate fixtures AND scale-correct for a big-sf run (VERDICT r10 #3).
    stream_heavy_hitters shares the same formula."""
    from fourmc_spark.streaming import DRAIN_BYTES_PER_PARTITION, drain_width

    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny fixtures hit the parallelism floor
    assert drain_width(spark, 0) == min(session_width, 4)
    assert drain_width(spark, 2 << 20) == min(session_width, 4)
    # volume-proportional in the middle band
    mid = 20 * DRAIN_BYTES_PER_PARTITION
    expect = min(session_width, mid // DRAIN_BYTES_PER_PARTITION + 1)
    assert drain_width(spark, mid) == expect
    # never widens the caller's session conf
    assert drain_width(spark, 10 ** 15) == session_width
    with pytest.raises(ValueError, match=">= 0"):
        drain_width(spark, -1)
