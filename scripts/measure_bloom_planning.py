#!/usr/bin/env python
"""Bloom-sidecar planning-cost spot check (round 10).

Claim under test (PLANS.md): bloom probing costs one sidecar JSON read
+ one base64 bitmap decode per (file, probed column) at planning time —
still the O(files) class — and a zone-only query over bloom-fattened
sidecars must not regress materially (the bitmap rides the same JSON
the zone check already loads).

Builds N sealed .4mz files, ANALYZEs with default-geometry blooms
(2^20 bits -> ~175 KB base64 per column per sidecar), then measures
driver-side partitions() wall for:
  * full plan (no filters)                 — N footer reads
  * bloom point probe (all files miss)     — N sidecar loads + decodes
  * zone range probe (bloom key untouched) — N sidecar loads, no decode
  * point probe, sidecars absent           — conservative: footer reads

    python scripts/measure_bloom_planning.py [n_files]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 500

    from pyspark.sql.datasource import (
        CaseInsensitiveDict, EqualTo, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_bloom, analyze_stats
    from fourmc_spark.session import get_spark
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl, iter_slices,
    )

    ddl = "k bigint, msg string"
    spark = get_spark("bloom-planning", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="bloom-plan-")
    rows_per = 200
    try:
        for i in range(n_files):
            base = i * rows_per
            body = b"".join(
                b'{"k": %d, "msg": "m"}\n' % (base + j)
                for j in range(rows_per)
            )
            write_file(os.path.join(d, f"f{i:06d}.4mz"), body, codec="zstd")
        analyze_stats(spark, d, ddl)
        analyze_bloom(spark, d, ddl, ["k"])  # default 2^20 bits, k=7
        sc_bytes = os.path.getsize(
            os.path.join(d, "f000000.4mz.stats.json")
        )

        schema = _parse_flat_ddl(ddl)
        opts = CaseInsensitiveDict({"path": d, "jsonschema": ddl})

        def plan(filters, reps=3):
            """(cold_first_rep, warm_min, kept_files): the first rep
            pays the sidecar JSON parse per file; later reps hit the
            parsed-sidecar cache (two os.stats per file)."""
            times = []
            n = None
            for _ in range(reps):
                rd = FourMcDataSourceReader(opts, schema)
                list(rd.pushFilters(filters))
                t = time.time()
                parts = rd.partitions()
                times.append(time.time() - t)
                # a packed partition holds slices of many files
                n = len({s.path for s in iter_slices(parts)})
            return times[0], min(times[1:]), n

        from fourmc_spark.sources import datasource as _ds

        def cold():
            _ds._SIDECAR_CACHE.clear()

        cold()
        c_full, w_full, n_full = plan([])
        cold()
        # point value no file holds: every bloom decodes, all miss
        c_pt, w_pt, n_pt = plan([EqualTo(("k",), -1)])
        cold()
        # zone range hitting one file: sidecars load, blooms NOT decoded
        c_zone, w_zone, n_zone = plan(
            [GreaterThanOrEqual(("k",), 100), LessThan(("k",), 150)]
        )
        for f in os.listdir(d):
            if f.endswith(".stats.json"):
                os.remove(os.path.join(d, f))
        cold()
        c_none, _w, n_none = plan([EqualTo(("k",), -1)])
        us = 1e6 / n_files
        print(
            f"files={n_files} sidecar_bytes={sc_bytes}\n"
            f"full plan          : cold {c_full*1000:7.1f} ms -> {n_full} files\n"
            f"bloom probe (miss) : cold {c_pt*1000:7.1f} ms "
            f"({c_pt*us:.0f} us/file), warm {w_pt*1000:7.1f} ms "
            f"({w_pt*us:.0f} us/file) -> {n_pt} files\n"
            f"zone range         : cold {c_zone*1000:7.1f} ms "
            f"({c_zone*us:.0f} us/file), warm {w_zone*1000:7.1f} ms "
            f"({w_zone*us:.0f} us/file) -> {n_zone} files\n"
            f"no sidecars        : cold {c_none*1000:7.1f} ms -> {n_none} files"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
