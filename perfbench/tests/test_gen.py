"""The benchmark's own checks: seeded inputs are reproducible, and a
wrong answer is caught and counted as a failed operation.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import Runner  # noqa: E402
from perfbench.workloads import CODECS, IngestSink, LookupPruned, ScanText  # noqa: E402


def _fixtures(seed: int) -> list[bytes]:
    ev = gen.events(seed, 12, 50)
    docs, n_groups = gen.curate_docs(seed, 40)
    return [
        *gen.scan_files(seed, 2, 64 << 10),
        *(gen.ndjson(ev, ev.file_rows(i)).to_string().encode() for i in range(ev.n_files)),
        repr(gen.queries(seed, ev, 9)).encode(),
        gen.ingest_rows(seed, 500).to_string().encode(),
        repr((docs, n_groups)).encode(),
    ]


def test_same_seed_gives_byte_identical_fixtures():
    assert _fixtures(7) == _fixtures(7)
    assert _fixtures(7) != _fixtures(8)


def test_expected_answers_come_from_the_generator():
    ev = gen.events(3, 20, 100)
    for q in gen.queries(3, ev, 12):
        rows = [i for i in range(len(ev.ts))
                if (q.ts_lo is None or q.ts_lo <= ev.ts[i] <= q.ts_hi)
                and (not q.users or ev.user_id[i] in q.users)]
        assert q.count == len(rows) > 0
        assert q.total == sum(int(ev.amount[i]) for i in rows)


def _write_ingest(wl: IngestSink, codec: str, level: str) -> None:
    from pyspark.sql.types import StringType, StructField, StructType

    from fourmc_spark.sources.datasource import FourMcDataSourceWriter

    w = FourMcDataSourceWriter(
        {"path": wl._dir(codec), **wl.sink_options(codec, level)},
        StructType([StructField("value", StringType())]), True,
    )
    half = wl.n_rows // 2
    w.commit([w.write(iter([pa.RecordBatch.from_arrays([wl.rows.slice(o, half)], ["value"])]))
              for o in (0, half)])


def test_ingest_check_catches_a_planted_wrong_expected_value(tmp_path):
    wl = IngestSink(str(tmp_path), seed=5)
    wl.n_rows = 2_000
    wl.generate()
    for codec, level, _ in CODECS:
        _write_ingest(wl, codec, level)
    assert wl.verify(0) == "" and wl.verify(1) == ""
    wl.raw_bytes += 1  # planted: one byte more than the generator made
    assert "expected" in wl.verify(0)


class _Wrong:
    """Stands in for a workload whose operation returns a wrong answer."""

    name = "planted"

    def op(self, spark, i):
        from perfbench.workloads import OpResult

        return OpResult(i != 1, 10, "g", "planted wrong value")

    def verify(self, i):
        return ""


def test_wrong_answers_and_exceptions_count_as_failed():
    r = Runner(_Wrong(), spark=None)
    samples = [r.measure(i) for i in range(3)]
    assert [s.ok for s in samples] == [True, False, True]
    r.wl.op = lambda spark, i: 1 / 0
    assert not r.measure(3).ok
    assert (r.attempted, r.failed) == (4, 2)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT
    from fourmc_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_scan_and_lookup_checks_against_the_package(spark, tmp_path):
    scan = ScanText(str(tmp_path / "s"), seed=2)
    scan.n_files, scan.file_bytes = 2, 256 << 10
    scan.generate()
    scan.setup(spark)
    assert scan.op(spark, 0).ok and scan.op(spark, 1).ok
    scan.expected = (scan.expected[0] + 1, scan.expected[1])
    assert not scan.op(spark, 0).ok

    look = LookupPruned(str(tmp_path / "l"), seed=2)
    look.n_files, look.rows_per_file, look.n_queries = 30, 40, 3
    look.generate()
    look.setup(spark)
    assert all(look.op(spark, i).ok for i in range(3))
    look.queries[0].total += 1
    assert not look.op(spark, 0).ok
