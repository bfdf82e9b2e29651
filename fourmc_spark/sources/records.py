"""Typed record models over the 4mc text scan.

The reference's record model is schema-on-read lines (SURVEY §1.2:
"Schema is whatever the consumer parses"); these helpers are the consumer
side for the two ubiquitous line formats, expressed so the parse stays in
whole-stage codegen (``from_csv`` / ``from_json`` are JVM expressions, not
Python) and the scan keeps every 4mc property (block-aligned splits,
checksum verification, offset/partition-column pushdown). Parsing is a
map-only projection: it fuses into the scan stage, so an ingest is one
pass with no shuffle.

``header=True`` rides the scan's ``skipfirstline`` option, which resolves
per head-partition — so CSV headers die inside the scan no matter how the
file was split (S5 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["read_4mc_csv", "read_4mc_json", "write_4mc_csv", "write_4mc_json"]


def _scan(spark: SparkSession, path: str, header: bool, options: dict) -> DataFrame:
    reader = spark.read.format("fourmc")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if header:
        reader = reader.option("skipfirstline", "true")
    return reader.load(path)


def read_4mc_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ",",
    header: bool = False,
    keep_offset: bool = False,
    **scan_options,
) -> DataFrame:
    """CSV lines inside .4mc/.4mz → typed columns via ``from_csv``.

    ``schema`` is a DDL string (``"a INT, b STRING"``). Malformed lines
    surface as NULL fields (Spark's permissive mode), never as task
    failures — at 100 TB a single bad line must not kill a 10k-task job.
    ``keep_offset=True`` puts the scan's ``offset`` column (the owning
    block's byte offset in its file) first.
    """
    df = _scan(spark, path, header, scan_options)
    return _typed(df, F.from_csv(F.col("value"), schema, {"sep": sep}),
                  keep_offset)


def read_4mc_json(
    spark: SparkSession,
    path: str,
    schema: str,
    keep_offset: bool = False,
    **scan_options,
) -> DataFrame:
    """JSON-lines inside .4mc/.4mz → typed columns via ``from_json``;
    nested structs/arrays in the DDL work. ``keep_offset`` as in
    :func:`read_4mc_csv`."""
    df = _scan(spark, path, header=False, options=scan_options)
    return _typed(df, F.from_json(F.col("value"), schema), keep_offset)


def _typed(df: DataFrame, parsed, keep_offset: bool) -> DataFrame:
    """The fields of the ``parsed`` struct as columns, after ``offset``
    when ``keep_offset``."""
    head = ["offset"] if keep_offset else []
    return df.select(*head, parsed.alias("_r")).select(*head, "_r.*")


def write_4mc_csv(
    df: DataFrame,
    path: str,
    sep: str = ",",
    codec: str = "zstd",
    level: str = "medium",
    **sink_options,
) -> None:
    """Typed columns → CSV lines inside .4mc/.4mz (``to_csv`` is a JVM
    expression; the sink seals per-task files with footer indexes, so
    the output is immediately splittable for the next job).

    CONTRACT — no embedded newlines: the container's record model is
    LINES (the reference's own schema-on-read rule), so a string value
    containing ``\\n`` cannot roundtrip — to_csv quotes it, but the
    line reader splits on the raw newline inside the quotes. Use the
    JSON record model for such data (``write_4mc_json``: to_json
    escapes newlines as ``\\\\n``, so JSON lines never span lines)."""
    out = df.select(
        F.to_csv(F.struct(*[F.col(c) for c in df.columns]), {"sep": sep}).alias("value")
    )
    w = out.write.format("fourmc").option("codec", codec).option("level", level)
    for k, v in sink_options.items():
        w = w.option(k, v)
    w.mode("overwrite").save(path)


def write_4mc_json(
    df: DataFrame,
    path: str,
    codec: str = "zstd",
    level: str = "medium",
    **sink_options,
) -> None:
    """Typed columns → JSON lines inside .4mc/.4mz."""
    out = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    )
    w = out.write.format("fourmc").option("codec", codec).option("level", level)
    for k, v in sink_options.items():
        w = w.option(k, v)
    w.mode("overwrite").save(path)
