"""SparkSession factory tuned for the engine.

Defaults chosen for 100 TB posture (AQE on, skew handling on, partition
coalescing on) while remaining correct on local[N] test runs.  Tests and
bench share this builder so plans are comparable.
"""

from __future__ import annotations

import os
import re
import site
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = ["get_spark", "register_fourmc"]


def get_spark(
    app_name: str = "fourmc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("FOURMC_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan switch
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # runtime row-level filtering: build a bloom filter from the
        # small join side and push it into the fact scan — at 100 TB a
        # selective dim predicate then skips fact rows before the
        # shuffle, the same effect dynamic partition pruning has on
        # partitioned layouts (both pinned on: defaults vary by version)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # intermediate/shuffle/broadcast compression (reference C6/C7:
        # straight LZ4/ZSTD block codecs for intermediate M/R data,
        # Readme.md:95-96) — lz4 default; FOURMC_SHUFFLE_CODEC=zstd for
        # better ratio on spill-heavy jobs
        .config(
            "spark.io.compression.codec",
            os.environ.get("FOURMC_SHUFFLE_CODEC", "lz4"),
        )
        # arrow-accelerated Python<->JVM transfer for pandas UDFs / DS API
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # the driver oracle (DuckDB) uses non-ANSI overflow/cast semantics;
        # queries are written to be ANSI-safe regardless
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("FOURMC_DRIVER_MEM", "8g"))
        # bound the idle Python-worker pool: a long session running many
        # heterogeneous pandas-UDF queries otherwise accumulates idle
        # daemons whose memory pressure can degrade late queries. NOTE:
        # spark.python.worker.idleTimeoutSeconds is NOT this knob — it is
        # a mid-task inactivity logger (kills only with killOnIdleTimeout,
        # which would murder legitimately slow workers); the idle POOL is
        # bounded by the factory conf below (workers respawn on demand).
        .config("spark.python.factory.idleWorkerMaxPoolSize", "32")
    )
    if _local_workers_import_package(master):
        # task workers fork from a daemon that sheds the pyspark/py4j
        # zips and the spark-core jar from sys.path, so the per-task
        # importlib.invalidate_caches() stops re-reading their
        # directories (fourmc_spark/_daemon.py)
        b = b.config("spark.python.daemon.module", "fourmc_spark._daemon")
    spark = b.getOrCreate()
    register_fourmc(spark)
    return spark


def _local_workers_import_package(master: str) -> bool:
    """True iff *master* runs Python workers on this host, outside Spark
    Connect, with this package's root on the path they start with: the
    driver's working directory, ``PYTHONPATH`` or site-packages."""
    if os.environ.get("SPARK_REMOTE") or os.environ.get(
        "SPARK_CONNECT_MODE_ENABLED"
    ):
        return False
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return False
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    reach = [
        os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(), site.getusersitepackages(),
    ]
    return any(p and os.path.realpath(p) == root for p in reach)


@contextmanager
def _scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set the session conf *confs* for the ``with`` body only; on exit
    each key gets back the value it had set, or is unset if it had none.
    Session-global while it lasts: a query planned concurrently on the
    same session sees the scoped values too."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def default_parallelism(spark: SparkSession) -> int | None:
    """The session's total task slots, which split packing aims at, or
    None under Spark Connect (no SparkContext: the planner falls back to
    the CPUs it may run on)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return None


def register_fourmc(spark: SparkSession) -> None:
    """Register the 'fourmc' and 'fourmcproto' DataSources.

    .. note:: SIDE EFFECT — this call sets the session-global conf
       ``spark.sql.python.filterPushdown.enabled=true`` on the passed
       session, which affects EVERY Python data source in that session
       (it turns their ``pushFilters()`` implementations on). This is
       intentional and required for stock sessions; if your session
       runs other Python data sources whose pushdown you need off,
       re-set the conf after registration.

    Each source is registered as a subclass that carries the session's
    ``defaultParallelism`` (the total task slots, as read now), which
    scan planning packs small files against — about one partition per
    slot, the way Spark's own file sources size ``FilePartition``. The
    planner runs in a Python process with no session, so the value is
    taken here; call again after the cluster grows or shrinks.

    Also enables Python-datasource filter pushdown on the *passed* session:
    FourMcDataSourceReader / FourMcProtoReader implement pushFilters(),
    which Spark 4.x rejects at reader init unless
    spark.sql.python.filterPushdown.enabled is true.  The conf is
    runtime-settable, so setting it here makes batch format("fourmc")
    reads work on any stock session (e.g. a migrating job's existing
    session), not just ones built by get_spark().
    """
    from fourmc_spark.sources.datasource import FourMcDataSource
    from fourmc_spark.sources.protobuf import FourMcProtoDataSource

    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        # ultra-defensive: a session that refuses the conf (older Spark
        # without the flag) doesn't gate pushFilters() either
        pass

    cores = default_parallelism(spark)
    for ds in (FourMcDataSource, FourMcProtoDataSource):
        # same name and module: cloudpickle ships this subclass (and its
        # parallelism) by value to the planning process
        ds = type(ds.__name__, (ds,), {
            "parallelism": cores, "__module__": ds.__module__,
            "__doc__": ds.__doc__,
        })
        try:
            spark.dataSource.register(ds)
        except Exception:
            # already registered in this session
            pass
