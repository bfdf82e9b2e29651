"""One benchmark run: one workload, one seed, a closed loop of one client.

    python3 perfbench/run.py --workload scan_text --seed 1 --seconds 10 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.perfbench_work/traces/``. Exits 1 when any operation failed
or returned a wrong answer, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Sample:
    wall: float
    cpu: float
    nbytes: int
    group: str
    ok: bool


def grouped_median(samples: list[Sample], value) -> float:
    """Mean over groups (codecs) of the per-group median, so that an
    alternating mix of two latency populations gives a stable centre."""
    groups: dict[str, list[float]] = {}
    for s in samples:
        if s.ok:
            groups.setdefault(s.group, []).append(value(s))
    return statistics.fmean(statistics.median(v) for v in groups.values())


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        FOURMC_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]),
    )
    from fourmc_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{ncpu}]", shuffle_partitions=ncpu)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process this
    run started (the JVM's Python daemon and workers included)."""
    from pyspark import SparkContext

    from perfbench.trace import tree_pids

    kids = tree_pids()[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}"):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


class Runner:
    def __init__(self, wl, spark) -> None:
        self.wl = wl
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.peak_mib = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        log(f"FAILED: {msg}")

    def measure(self, i: int) -> Sample:
        from perfbench.trace import tree_cpu_s, tree_hwm_mib

        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            r = self.wl.op(self.spark, i)
            ok, err, nbytes, group = r.ok, r.detail, r.nbytes, r.group
        except Exception:
            ok, err, nbytes, group = False, traceback.format_exc(), 0, "error"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if ok:
            err = self.wl.verify(i)
            ok = not err
        if not ok:
            self.fail(f"{self.wl.name} op {i}: {err}")
        self.peak_mib = max(self.peak_mib, tree_hwm_mib())
        return Sample(wall, cpu, nbytes, group, ok)

    def loop(self, seconds: float) -> list[Sample]:
        """The closed loop: the next operation starts when the last ends."""
        samples = []
        t_end = time.perf_counter() + seconds
        i = 0
        while not samples or time.perf_counter() < t_end:
            samples.append(self.measure(i))
            i += 1
        return samples


def end_to_end(runner: Runner, samples: list[Sample], setup: list[float]) -> dict:
    wl = runner.wl
    return {
        "op_p50_ms": grouped_median(samples, lambda s: s.wall) * 1e3,
        "mbps": grouped_median(samples, lambda s: s.nbytes / s.wall) / 1e6,
        "cpu_s_per_op": grouped_median(samples, lambda s: s.cpu),
        "cpu_s_per_gib": grouped_median(samples, lambda s: s.cpu / (s.nbytes / 2**30)),
        "stored_bytes_per_input_byte": wl.stored_ratio(),
        "setup_s": statistics.median(setup),
        "peak_rss_mib": runner.peak_mib,
    }


def per_layer(runner: Runner, untraced: list[Sample], work: str, seed: int,
              session_s: float) -> dict:
    from perfbench import layers
    from perfbench.ledger import Ledger
    from perfbench.trace import Tracer

    wl, spark = runner.wl, runner.spark
    sc = spark.sparkContext
    tracer = Tracer()
    groups: dict[str, tuple[float, float]] = {}
    traced = []
    for i in range(wl.traced_ops):
        gid = f"op-{i}"
        sc.setJobGroup(gid, gid)
        t0 = time.time()
        with tracer.span(f"op.{wl.name}", op=gid):
            traced.append(runner.measure(i))
        groups[gid] = (t0, time.time())
    sc.setJobGroup("perfbench", "perfbench")
    baseline = untraced[: wl.traced_ops]
    out = {"trace.overhead_ms": (grouped_median(traced, lambda s: s.wall)
                                 - grouped_median(baseline, lambda s: s.wall)) * 1e3,
           "spark.session_start_s": session_s}

    reads = [wl.read_spec(i) for i in range(3)]
    for layer, metrics in (
        ("format", layers.format_probe(wl.layer_files(), tracer)),
        ("sources.plan", layers.plan_probe(reads, ROOT, tracer)),
        ("sources.read", layers.read_probe(reads, tracer)),
        ("sources.sink", layers.sink_probe(wl, tracer)),
    ):
        out.update({f"{layer}.{k}": v for k, v in metrics.items()})
    out["format.stored_bytes_per_input_byte"] = wl.stored_ratio()

    runner.attempted += 1
    ops, err = layers.operators_probe(spark, seed, work, tracer, groups)
    if err:
        runner.fail(err)
    out.update({f"operators.{k}": v for k, v in ops.items()})

    ledger = Ledger(spark).collect(groups)
    out["operators.bpe_learn_jobs"] = ledger["operators.bpe_learn.1"]["jobs"]
    roots = {s.op: k for k, s in enumerate(tracer.spans) if s.parent == -1 and s.op}
    for gid, m in ledger.items():
        for _, s0, s1 in m.pop("_jobs"):
            tracer.add("spark.job", s0, s1, roots[gid], gid)
    op_rows = [m for gid, m in ledger.items() if gid.startswith("op-")]
    for k in op_rows[0]:
        out[f"spark.{k}"] = statistics.median(m[k] for m in op_rows)

    tdir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, f"{wl.name}-seed{seed}.jsonl")
    tracer.dump(path)
    log(f"spans written to {path}")
    for name, t in sorted(tracer.self_time_by_name().items(), key=lambda x: -x[1]):
        log(f"  self {t:9.3f} s  {name}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fourmc_spark", "__init__.py")):
        log(f"no fourmc_spark package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        log(f"{wl.name}: inputs generated in {time.perf_counter() - t0:.2f} s")
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        setup = []
        for _ in range(wl.setups):
            t0 = time.perf_counter()
            wl.setup(spark)
            setup.append(time.perf_counter() - t0)
        log(f"set-up times {['%.3f' % s for s in setup]}")
        runner = Runner(wl, spark)
        t0 = time.perf_counter()
        for i in range(wl.warmup):
            runner.measure(i)
        log(f"session start {session_s:.2f} s, warm-up {time.perf_counter() - t0:.2f} s")
        samples = runner.loop(args.seconds)
        log(f"{len(samples)} timed operations: "
            + " ".join(f"{s.group}:{s.wall * 1e3:.0f}ms/{s.cpu:.2f}cpu" for s in samples))
        err = wl.post_check(spark)
        if err:
            runner.fail(err)
        if args.trace:
            metrics = per_layer(runner, samples, work, args.seed, session_s)
        else:
            metrics = end_to_end(runner, samples, setup)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"stopped in {time.perf_counter() - t0:.2f} s")

    result = {}
    for m in wanted:
        v = metrics[m["name"]]
        result[m["name"]] = {"value": v, "unit": m["unit"]}
        log(f"{m['name']:45s} {v:14.6g} {m['unit']}")
    correct = runner.failed == 0
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
