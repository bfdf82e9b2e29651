"""Schema-tolerant loader for the driver's ``events`` table.

The driver testdata has shipped ``events.ts`` in two physical forms:

* parquet TIMESTAMP(NANOS) — Spark's schema inference rejects it unless
  ``spark.sql.legacy.parquet.nanosAsLong=true``, under which the column
  arrives as a raw int64 of nanoseconds (the scan itself needs no flag);
* plain microsecond TIMESTAMP (current driver output) — read natively as
  TIMESTAMP / TIMESTAMP_NTZ depending on the parquet logical-type flag.

Every consumer (batch queries, streaming, tests) goes through
``normalize_events_ts`` so both forms surface identically as a
session-timezone TIMESTAMP column truncated to microseconds.  The session
timezone is pinned to UTC (``fourmc_spark.session``), so the NTZ→TZ cast
is wall-clock-identity and matches the DuckDB oracle's naive timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from fourmc_spark.session import _scoped_conf

#: the legacy parquet flag under which TIMESTAMP(NANOS) reads as int64
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to microsecond TimestampType.

    Handles: int64 nanoseconds (legacy nanosAsLong read), TIMESTAMP_NTZ
    (native read of NTZ parquet), and TIMESTAMP (already normalized).
    Integer arithmetic only — ``div 1000``, never float division.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dtype, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of an events parquet file/dir with ts normalized."""
    # Harmless when ts is already a timestamp; required for NANOS files.
    # Spark reads the flag when it infers the file schema, not when the
    # scan runs, so it is set for this read only.
    with _scoped_conf(spark, {NANOS_AS_LONG: "true"}):
        return normalize_events_ts(spark.read.parquet(path))
