"""Fault injection over every sink commit and compaction landing.

Each case builds an on-disk state, stages a write, then replays its
commit once per filesystem step: the k-th ``os.replace``/``os.remove``
call raises, for every k up to the number of calls a clean commit
makes. After each crash:

* the listed data files hold the whole old dataset or the whole new
  one (an overwrite may show both, never neither);
* no visible sidecar exists without its data file, and every visible
  sidecar's ``size``/``rows`` match the file at its name;
* rerunning the same write (for the stream sink: replaying the batch)
  gives exactly the expected rows.

Runs in-process: the writers are built directly, no Spark session.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from contextlib import contextmanager
from unittest import mock

import pyarrow as pa
import pytest
from pyspark.sql.datasource import CaseInsensitiveDict
from pyspark.sql.types import StringType, StructField, StructType

from fourmc_spark.format.protobuf import (
    USER_SCHEMA, iter_eb_records_for_split, spark_struct,
)
from fourmc_spark.format.reader import decompress_file, scan_file_info
from fourmc_spark.sources.datasource import (
    _EXTS, STATS_SUFFIX, FourMcDataSourceWriter, _list_files,
)
from fourmc_spark.sources.protobuf import FourMcProtoWriter
from fourmc_spark.sources.stream import FourMcStreamWriter


class _Fault(OSError):
    pass


@contextmanager
def _fail_at(k: int):
    """Make the k-th os.replace/os.remove call raise (k=0: only count)."""
    calls = [0]

    def wrap(real):
        def step(*a, **kw):
            calls[0] += 1
            if calls[0] == k:
                raise _Fault(f"injected at step {k}")
            return real(*a, **kw)
        return step

    with mock.patch.object(os, "replace", wrap(os.replace)), \
            mock.patch.object(os, "remove", wrap(os.remove)):
        yield calls


def _crash(commit, k: int) -> int:
    with _fail_at(k) as calls:
        try:
            commit()
        except _Fault:
            pass
    return calls[0]


# --- reading what a reader would see ------------------------------------

def _file_rows(path: str) -> list[str]:
    # proto cases write lz4 (.4mc) and yield userIds; text cases write
    # zstd (.4mz) and yield lines
    if path.endswith(".4mc"):
        codec, size, _ = scan_file_info(path)
        with open(path, "rb") as f:
            return [r["userId"] for _, r in iter_eb_records_for_split(
                f, codec, 0, size, USER_SCHEMA
            )]
    return bytes(decompress_file(path)).decode().splitlines()


def _visible(root: str) -> Counter:
    return Counter(r for p in _list_files(root) for r in _file_rows(p))


def _check_sidecars(root: str) -> None:
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            data = os.path.join(dirpath, n[: -len(STATS_SUFFIX)])
            # a reader only sees sidecars of listable data names, not
            # staged ones (compaction's *.inprogress, like _temporary/)
            if not n.endswith(STATS_SUFFIX) or not data.endswith(_EXTS) \
                    or n.startswith(("_", ".")):
                continue
            assert os.path.exists(data), f"orphan sidecar {n}"
            with open(data + STATS_SUFFIX) as f:
                meta = json.load(f)
            assert meta["size"] == os.path.getsize(data), n
            assert meta["rows"] == len(_file_rows(data)), n


# --- writers ------------------------------------------------------------

_TEXT = StructType([StructField("value", StringType())])
_TEXT_P = StructType([StructField("value", StringType()),
                      StructField("p", StringType())])


def _lines(tag: str, n: int) -> list[str]:
    return [json.dumps({"k": i, "g": tag}) for i in range(n)]


def _text_batch(lines, partitioned=False):
    cols = {"value": lines}
    if partitioned:
        cols["p"] = ["a" if i % 2 else "b" for i in range(len(lines))]
    return pa.RecordBatch.from_pydict(cols)


def _text_writer(root, overwrite, partitioned=False):
    opts = {"path": root, "codec": "zstd", "statsschema": "k bigint, g string"}
    if partitioned:
        opts["partitionby"] = "p"
    return FourMcDataSourceWriter(
        CaseInsensitiveDict(opts), _TEXT_P if partitioned else _TEXT,
        overwrite,
    )


def _text_job(root, rows, overwrite, tasks=2, partitioned=False):
    """Stage a text-sink write of *rows* over *tasks* tasks; returns the
    commit callable."""
    w = _text_writer(root, overwrite, partitioned)
    msgs = [w.write(iter([_text_batch(rows[t::tasks], partitioned)]))
            for t in range(tasks)]
    return lambda: w.commit(msgs)


def _users(tag: str, n: int) -> list[dict]:
    return [{"userId": f"{tag}{i:03d}", "name": None, "type": "t",
             "birthDate": i, "tags": []} for i in range(n)]


def _proto_job(root, users, overwrite, tasks=2):
    w = FourMcProtoWriter(
        CaseInsensitiveDict({"path": root, "codec": "lz4"}),
        spark_struct(USER_SCHEMA), overwrite,
    )
    msgs = [w.write(iter([pa.RecordBatch.from_pylist(users[t::tasks])]))
            for t in range(tasks)]
    return lambda: w.commit(msgs)


def _analyze_proto(root: str) -> None:
    # the shape analyze_stats_proto seals: size/rows plus zone columns
    for p in _list_files(root):
        ids = _file_rows(p)
        with open(p + STATS_SUFFIX, "w") as f:
            json.dump({"version": 2, "size": os.path.getsize(p),
                       "rows": len(ids), "columns": {"userId": {
                           "min": min(ids), "max": max(ids), "nulls": 0}}}, f)


def _stream_job(root, rows, batch_id, tasks):
    w = FourMcStreamWriter(
        CaseInsensitiveDict({"path": root, "codec": "zstd",
                             "statsschema": "k bigint, g string"}),
        _TEXT, False,
    )
    msgs = [w.write(iter([_text_batch(rows[t::tasks])]))
            for t in range(tasks)]
    return lambda: w.commit(msgs, batchId=batch_id)


# --- cases --------------------------------------------------------------
# Each case: prepare(root) -> (commit, old rows, rerun, expected rows).
# `old` is the committed dataset the crash must never lose; the commit
# is an overwrite when `expected` excludes it.

_OLD, _NEW = _lines("old", 10), _lines("new", 12)
_OLD_P = _lines("old", 11)


def _text_overwrite(root):
    _text_job(root, _OLD, overwrite=False)()
    return (_text_job(root, _NEW, True), _OLD,
            lambda: _text_job(root, _NEW, True)(), _NEW)


def _text_overwrite_partitioned(root):
    _text_job(root, _OLD_P, overwrite=False, partitioned=True)()
    return (_text_job(root, _NEW, True, partitioned=True), _OLD_P,
            lambda: _text_job(root, _NEW, True, partitioned=True)(), _NEW)


def _text_append(root):
    _text_job(root, _OLD, overwrite=False)()
    return (_text_job(root, _NEW, False), _OLD,
            lambda: _text_job(root, _NEW, False)(), _OLD + _NEW)


def _proto_overwrite(root):
    old, new = _users("old", 9), _users("new", 7)
    _proto_job(root, old[:6], overwrite=False)()
    _proto_job(os.path.join(root, "sub"), old[6:], overwrite=False, tasks=1)()
    _analyze_proto(root)
    ids = [u["userId"] for u in old]
    new_ids = [u["userId"] for u in new]
    return (_proto_job(root, new, True), ids,
            lambda: _proto_job(root, new, True)(), new_ids)


def _stream_fresh(root):
    _stream_job(root, _OLD, 0, tasks=2)()
    return (_stream_job(root, _NEW, 1, tasks=2), _OLD,
            lambda: _stream_job(root, _NEW, 1, tasks=3)(), _OLD + _NEW)


def _stream_replay(root):
    # batch 1's first attempt (3 tasks) dies after HWB, on its
    # second-to-last step; the replay re-splits the batch into 2 tasks
    for d in (root + "-probe", root):
        _stream_job(d, _OLD, 0, tasks=2)()
    steps = _crash(_stream_job(root + "-probe", _NEW, 1, tasks=3), 0)
    _crash(_stream_job(root, _NEW, 1, tasks=3), steps - 1)
    return (_stream_job(root, _NEW, 1, tasks=2), _OLD,
            lambda: _stream_job(root, _NEW, 1, tasks=2)(), _OLD + _NEW)


def _compaction_inputs(root):
    src = os.path.join(root, "in")
    rows = []
    for t in range(4):
        _text_job(src, _lines(f"in{t}", 5 + t), overwrite=False, tasks=1)()
        rows += _lines(f"in{t}", 5 + t)
    from fourmc_spark.operators.maintenance import plan_compaction

    # two outputs of two inputs each, so a recompress re-blocks (and
    # changes the size of) every output
    plans = plan_compaction(src, target_bytes=250)
    assert [len(p.inputs) for p in plans] == [2, 2]
    return plans, rows


def _compact(root, plans, recompress=False):
    from fourmc_spark.operators.maintenance import (
        _recompress_group, compact_group,
    )

    def run():
        for i, p in enumerate(plans):
            out = os.path.join(root, "out", f"compact-{i:06d}.4mz")
            if recompress:
                _recompress_group(p, out, "zstd", "fast", workers=1)
            else:
                compact_group(p, out, carry_stats=True)
    return run


def _compaction_raw(root):
    plans, rows = _compaction_inputs(root)
    os.makedirs(os.path.join(root, "out"))
    _compact(root, plans)()
    return (_compact(root, plans), rows, _compact(root, plans), rows)


def _compaction_recompress(root):
    plans, rows = _compaction_inputs(root)
    os.makedirs(os.path.join(root, "out"))
    raw = _compact(root, plans)
    raw()
    # a raw-copy rerun that died on its last step, then a recompress
    _crash(raw, _crash(raw, 0))
    return (_compact(root, plans, True), rows,
            _compact(root, plans, True), rows)


CASES = {
    "text_overwrite_stats": _text_overwrite,
    "text_overwrite_partitionby": _text_overwrite_partitioned,
    "text_append": _text_append,
    "proto_overwrite_analyzed": _proto_overwrite,
    "stream_fresh": _stream_fresh,
    "stream_replay_after_hwb": _stream_replay,
    "compaction_raw_rerun": _compaction_raw,
    "compaction_recompress_rerun": _compaction_recompress,
}


def _visible_root(root):
    return os.path.join(root, "out") if os.path.isdir(
        os.path.join(root, "out")) else root


@pytest.mark.parametrize("case", sorted(CASES))
def test_commit_survives_a_crash_at_every_step(case, tmp_path):
    steps = _crash(CASES[case](str(tmp_path / "count"))[0], 0)
    assert steps > 0
    for k in range(1, steps + 1):
        root = str(tmp_path / f"k{k}")
        commit, old, rerun, expected = CASES[case](root)
        new = Counter(expected) - Counter(old) or Counter(expected)
        _crash(commit, k)
        seen = _visible(_visible_root(root))
        assert seen >= Counter(old) or seen >= new, (
            f"step {k}/{steps}: lost data — saw {sorted(seen)}"
        )
        _check_sidecars(_visible_root(root))
        rerun()
        seen = _visible(_visible_root(root))
        if case == "text_append":
            # an append has no idempotence key: a rerun after a partial
            # landing duplicates what landed (duplicates, never loss)
            assert set(seen) == set(expected) and seen >= Counter(expected)
        else:
            assert seen == Counter(expected), f"step {k}/{steps}"
        _check_sidecars(_visible_root(root))
