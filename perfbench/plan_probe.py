"""sources.plan probe, run in a fresh interpreter so that the planner's
per-process caches (footers, sidecars) start cold, as in Spark's planner
worker.

    python perfbench/plan_probe.py '<json spec>'

The spec is ``{"options": {...}, "filters": [[op, column, value], ...]}``
with op in ``ge``/``le``/``in``. Prints one JSON object of timings and
counts.
"""

from __future__ import annotations

import json
import os
import sys
import time


def make_filters(filters: list) -> list:
    """``(op, column, value)`` triples as the data source API's filters."""
    from pyspark.sql import datasource as D

    make = {"ge": D.GreaterThanOrEqual, "le": D.LessThanOrEqual,
            "in": lambda a, v: D.In(a, tuple(v))}
    return [make[op]((col,), v) for op, col, v in filters]


def main() -> None:
    spec = json.loads(sys.argv[1])
    from fourmc_spark.sources.datasource import FourMcDataSource
    from perfbench.workloads import data_files

    filters = make_filters(spec["filters"])

    t0 = time.perf_counter()
    ds = FourMcDataSource(spec["options"])
    schema = ds.schema()
    t1 = time.perf_counter()
    reader = ds.reader(schema)
    list(reader.pushFilters(filters))
    t2 = time.perf_counter()
    parts = reader.partitions()
    t3 = time.perf_counter()
    reader.partitions()
    t4 = time.perf_counter()

    listed = data_files(spec["options"]["path"])
    kept = [p for p in parts if p.path]
    total = sum(os.path.getsize(p) for p in listed)
    print(json.dumps({
        "schema_ms": (t1 - t0) * 1e3,
        "push_filters_ms": (t2 - t1) * 1e3,
        "partitions_cold_ms": (t3 - t2) * 1e3,
        "partitions_warm_ms": (t4 - t3) * 1e3,
        "files_listed": len(listed),
        "files_kept": len({p.path for p in kept}),
        "partitions": len(kept),
        "kept_bytes_ratio": sum(p.end - p.start for p in kept) / max(total, 1),
    }))


if __name__ == "__main__":
    main()
