"""Runtime Bloom-filter join pruning (Catalyst `InjectRuntimeFilter`).

At 100 TB the classic selective-dimension join — a fact table shuffle-joined
to a dimension that a predicate cuts to a sliver — pays for shuffling fact
rows that the join will drop. Spark's runtime filter fixes this without any
operator of ours: it builds a Bloom filter over the dimension's join keys
and injects a `might_contain` predicate on the fact side BELOW its shuffle,
so non-matching rows die at the scan stage, not after the exchange.

This is exactly the semi-join reduction the papers describe (e.g. Bloom
joins in distributed query processing); it is free to us because we express
joins declaratively — the entire "implementation" is configuration plus the
plan pin in tests/test_plans.py that fails if a Spark upgrade or conf drift
stops the filter from firing.

Spark's gating confs (defaults are the production posture):

* ``spark.sql.optimizer.runtime.bloomFilter.enabled`` — on by default;
* ``...creationSideThreshold`` (10 MB) — the *filtered dimension* must be
  estimated under this for the filter to be worth building. On a cluster
  with wide dims, raising it to ~100 MB trades a cheap single-pass
  aggregate for shuffle volume on the fact side;
* ``...applicationSideScanSizeThreshold`` (10 GB) — the fact side must be
  at least this big; every real fact scan at 100 TB qualifies, while small
  joins skip the overhead. Local tests must lower it to observe injection.

The helper below scopes threshold overrides so tests (tiny inputs) can
observe the same plan shape the defaults produce at cluster scale.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

from fourmc_spark.session import _scoped_conf

__all__ = ["runtime_bloom_filters"]

_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


@contextmanager
def runtime_bloom_filters(spark: SparkSession, enabled: bool = True):
    """Scope runtime-Bloom-filter thresholds (restores prior confs on exit).

    ``enabled=True`` makes injection observable on small local inputs by
    dropping the application-side size gate to 0 (the plan-shape twin of
    the 10 GB default at cluster scale). ``enabled=False`` turns injection
    off — the control case for plan tests.
    """
    overrides = dict(_CONFS)
    if not enabled:
        overrides["spark.sql.optimizer.runtime.bloomFilter.enabled"] = "false"
    with _scoped_conf(spark, overrides):
        yield spark
