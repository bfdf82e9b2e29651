#!/usr/bin/env python
"""Zone-map planning-cost spot check (round 9).

Claim under test (PLANS.md): zone-map pruning costs one tiny JSON
sidecar read per file at planning time — the same O(files) class as the
footer-index split planning — and prunes before any footer read.

Builds N sealed .4mz files (each with a sidecar covering a disjoint
k-range), then measures driver-side partitions() wall for:
  * full plan (no filters)            — N footer reads
  * zone-pruned plan (1-file range)   — N sidecar reads + 1 footer read
  * zone-pruned, sidecars absent      — conservative: N footer reads

    python scripts/measure_zonemap_planning.py [n_files]
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
        CaseInsensitiveDict, GreaterThanOrEqual, LessThan,
    )

    from fourmc_spark.format.writer import write_file
    from fourmc_spark.operators.maintenance import analyze_stats
    from fourmc_spark.session import get_spark
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl, iter_slices,
    )

    ddl = "k bigint, msg string"
    spark = get_spark("zm-planning", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="zm-plan-")
    rows_per = 200
    for i in range(n_files):
        base = i * rows_per
        body = b"".join(
            b'{"k": %d, "msg": "m"}\n' % (base + j) for j in range(rows_per)
        )
        write_file(os.path.join(d, f"part-{i:05d}.4mz"), body, codec="zstd")
    analyze_stats(spark, d, ddl)

    schema = _parse_flat_ddl(ddl)
    opts = CaseInsensitiveDict({"path": d, "jsonschema": ddl})

    def plan(filters, label):
        rd = FourMcDataSourceReader(opts, schema)
        if filters:
            list(rd.pushFilters(filters))
        t0 = time.perf_counter()
        parts = rd.partitions()
        dt = time.perf_counter() - t0
        # a packed partition holds slices of many files: count every slice
        files = {s.path for s in iter_slices(parts)}
        print(f"{label:34s} {dt*1000:8.1f} ms  "
              f"{len(files):5d} files planned")
        return dt

    mid = (n_files // 2) * rows_per
    flt = [GreaterThanOrEqual(("k",), mid), LessThan(("k",), mid + rows_per)]
    # warm the page cache/footer cache once, then measure
    plan(None, "(warm)")
    full = plan(None, f"full plan ({n_files} footers)")
    pruned = plan(flt, "zone-pruned (1-file range)")
    for f in os.listdir(d):
        if f.endswith(".stats.json"):
            os.remove(os.path.join(d, f))
    no_sc = plan(flt, "filtered, sidecars absent")
    print(f"planning overhead of pruning vs full: "
          f"{pruned / max(full, 1e-9):.2f}x "
          f"(conservative fallback {no_sc / max(full, 1e-9):.2f}x)")
    shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
