"""Unit tests for bench.py's weather-robustness plumbing.

The full bench run is too slow for the suite; these pin the merge/settle
logic that decides what the OFFICIAL per-round capture publishes —
three rounds running, host CPU steal poisoned BENCH_r{3,4,5}.json, so
the aggregation rules (max-mbps / min-sec / per-query min, canary even
without /proc/loadavg) are load-bearing.
"""

from __future__ import annotations

import bench


def test_merge_io_max_mbps_min_sec_latest_other():
    a = {
        "spark_sink_lz4_fast_mbps": 242.0,   # stolen pass
        "stress_minhash_lsh_sec": 9.0,
        "lz4_fast_ratio": 3.1,
        "stress_docs": 5000.0,
    }
    b = {
        "spark_sink_lz4_fast_mbps": 376.0,   # quiet pass
        "stress_minhash_lsh_sec": 4.0,
        "lz4_fast_ratio": 3.1,
        "stress_docs": 5000.0,
    }
    for order, quiet_idx in (([a, b], 1), ([b, a], 0)):
        m, src = bench._merge_io(order)
        assert m["spark_sink_lz4_fast_mbps"] == 376.0
        assert m["stress_minhash_lsh_sec"] == 4.0
        assert m["lz4_fast_ratio"] == 3.1
        assert m["stress_docs"] == 5000.0
        # provenance: merged throughput/duration keys point at the quiet
        # pass; latest-wins keys point at the last pass (VERDICT r7 #3)
        assert src["spark_sink_lz4_fast_mbps"] == quiet_idx
        assert src["stress_minhash_lsh_sec"] == quiet_idx
        assert src["lz4_fast_ratio"] == len(order) - 1
        assert src["stress_docs"] == len(order) - 1


def test_merge_io_single_attempt_is_identity():
    a = {"x_mbps": 1.0, "y_sec": 2.0, "z": 3.0}
    m, src = bench._merge_io([a])
    assert m == a
    assert src == {"x_mbps": 0, "y_sec": 0, "z": 0}


def test_sessionize_floor_ratio_is_min_of_same_pass_ratios():
    # the headline must never mix numerator and denominator across
    # passes: with passes (3.6/1.0) and (3.0/1.2), a min-of-minima
    # ratio would publish 3.0/1.0 = 3.0 — a capture that never happened
    q_meta = [
        {"result": {"stream_sessionize_stateful": 3.6,
                    "stream_tumbling_hourly": 1.0}},
        {"result": {"stream_sessionize_stateful": 3.0,
                    "stream_tumbling_hourly": 1.2}},
    ]
    d = bench._sessionize_floor(q_meta)
    assert d["sessionize_floor_ratio_per_pass"] == [3.6, 2.5]
    assert d["sessionize_floor_ratio"] == 2.5
    # control missing (e.g. a smoke run with a trimmed query list):
    # no derived block rather than a KeyError
    assert bench._sessionize_floor([{"result": {}}]) == {}


def test_healthy_uses_min_gflops_floor():
    assert bench._healthy({"blas_gflops": bench.MIN_GFLOPS})
    assert not bench._healthy({"blas_gflops": bench.MIN_GFLOPS - 0.1})


def test_settle_canary_returns_first_and_last(monkeypatch):
    # unhealthy first reading, healthy second: the loop must keep the
    # TRUE first reading (self-describing capture) and return the last
    readings = iter([
        {"zlib1t_mbps": 30.0, "blas_gflops": 2.0},
        {"zlib1t_mbps": 35.0, "blas_gflops": 120.0},
    ])
    monkeypatch.setattr(bench, "_canary", lambda: next(readings))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    first, last, waited = bench._settle_canary(0.0, budget=300.0)
    assert first["blas_gflops"] == 2.0
    assert last["blas_gflops"] == 120.0
    assert waited == 15


def test_settle_load_runs_canary_without_proc_loadavg(monkeypatch):
    # ADVICE r5 (low): the /proc/loadavg-unavailable early return used to
    # skip the canary entirely, giving non-Linux captures a different
    # schema and losing the CPU-steal signal
    monkeypatch.setattr(bench, "_loadavg1", lambda: None)
    monkeypatch.setattr(
        bench, "_canary",
        lambda: {"zlib1t_mbps": 35.0, "blas_gflops": 150.0},
    )
    info = bench._settle_load()
    assert info["loadavg_start"] is None
    assert info["canary_first"]["blas_gflops"] == 150.0
    assert info["canary_start"]["blas_gflops"] == 150.0
    assert info["min_gflops"] == bench.MIN_GFLOPS
    assert info["load_settled"] is True


def test_bench_queries_robust_takes_per_query_min(monkeypatch):
    # two passes, second one quiet: published numbers must be the min
    passes = iter([
        {"q1": 2.0, "q2": 5.0},
        {"q1": 1.0, "q2": 6.0},
    ])
    canaries = iter([
        {"zlib1t_mbps": 30.0, "blas_gflops": 2.0},    # pass 1 start
        {"zlib1t_mbps": 30.0, "blas_gflops": 2.0},    # pass 1 end
        {"zlib1t_mbps": 35.0, "blas_gflops": 150.0},  # pass 2 start
        {"zlib1t_mbps": 35.0, "blas_gflops": 150.0},  # pass 2 end
    ])
    monkeypatch.setattr(bench, "bench_queries", lambda spark: next(passes))
    monkeypatch.setattr(bench, "_canary", lambda: next(canaries))
    monkeypatch.setattr(
        bench, "_settle_canary",
        lambda w, budget: (None, None, w),
    )
    queries, meta = bench.bench_queries_robust(spark=None)
    assert queries == {"q1": 1.0, "q2": 5.0}
    assert [m["healthy"] for m in meta] == [False, True]


def test_bench_queries_robust_retries_until_healthy(monkeypatch):
    # every pass unhealthy: stops at SPARK_GRAFT_QUERY_PASSES_MAX
    monkeypatch.setenv("SPARK_GRAFT_QUERY_PASSES_MAX", "3")
    monkeypatch.setattr(bench, "bench_queries", lambda spark: {"q": 1.0})
    monkeypatch.setattr(
        bench, "_canary",
        lambda: {"zlib1t_mbps": 30.0, "blas_gflops": 2.0},
    )
    settles = []
    monkeypatch.setattr(
        bench, "_settle_canary",
        lambda w, budget: settles.append(budget) or (None, None, w),
    )
    queries, meta = bench.bench_queries_robust(spark=None)
    assert len(meta) == 3
    assert not any(m["healthy"] for m in meta)
    assert len(settles) == 2  # settled between passes, not after the last


def test_healthy_uses_relative_floor_against_best_canary(monkeypatch):
    # a steady steal of 23-40 GFLOPs on a host that does ~180 clears the
    # absolute floor; the relative one catches it
    monkeypatch.setattr(bench, "_canary_best", 180.0)
    assert not bench._healthy({"blas_gflops": 40.0})
    assert bench._healthy({"blas_gflops": 90.0})
    assert bench._canary_rel({"blas_gflops": 45.0}) == 0.25
    monkeypatch.setattr(bench, "_canary_best", None)
    assert bench._healthy({"blas_gflops": 40.0})
    assert bench._canary_rel({"blas_gflops": 40.0}) is None


def test_recorded_canary_best_reads_previous_detail(tmp_path):
    import json

    p = tmp_path / "BENCH_DETAIL.json"
    assert bench._recorded_canary_best(str(p)) is None  # no capture yet
    p.write_text(json.dumps({"load": {
        "canary_start": {"blas_gflops": 120.0},
        "io_passes": [{"canary_end": {"blas_gflops": 181.5}}],
    }}))
    assert bench._recorded_canary_best(str(p)) == 181.5
    p.write_text(json.dumps({"load": {
        "canary_best": 200.0, "canary_start": {"blas_gflops": 120.0},
    }}))
    assert bench._recorded_canary_best(str(p)) == 200.0
