"""Schema-on-read ingestion: CSV/JSON lines inside 4mc -> typed DataFrames,
split-invariant (header skip + parsing must not depend on the split plan).
"""

from pyspark.sql import functions as F


def _write_lines(spark, path, lines, codec="zstd"):
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    df.coalesce(1).write.format("fourmc").option("codec", codec) \
        .option("blocksize", 4096).mode("overwrite").save(path)


def test_csv_ingest_with_header(spark, tmp_path):
    from fourmc_spark.sources.records import read_4mc_csv

    p = str(tmp_path / "csv")
    lines = ["id,name,score"] + [f"{i},user{i},{i * 1.5}" for i in range(5000)]
    _write_lines(spark, p, lines)
    df = read_4mc_csv(
        spark, p, "id INT, name STRING, score DOUBLE", header=True,
        maxpartitionbytes=8192,  # force several splits through one file
    )
    assert df.count() == 5000
    got = df.where(F.col("id") == 4999).first()
    assert got.name == "user4999" and abs(got.score - 7498.5) < 1e-9
    assert df.schema.simpleString() == "struct<id:int,name:string,score:double>"


def test_csv_malformed_lines_null_not_fail(spark, tmp_path):
    from fourmc_spark.sources.records import read_4mc_csv

    p = str(tmp_path / "bad")
    _write_lines(spark, p, ["1,a", "not-an-int,b", "3,c"])
    df = read_4mc_csv(spark, p, "id INT, name STRING")
    rows = {r.name: r.id for r in df.collect()}
    assert rows == {"a": 1, "b": None, "c": 3}


def test_json_ingest_nested(spark, tmp_path):
    import json

    from fourmc_spark.sources.records import read_4mc_json

    p = str(tmp_path / "json")
    lines = [
        json.dumps({"id": i, "meta": {"lang": "en", "tags": [f"t{i % 3}"]}})
        for i in range(2000)
    ]
    _write_lines(spark, p, lines, codec="lz4")
    df = read_4mc_json(
        spark, p,
        "id BIGINT, meta STRUCT<lang: STRING, tags: ARRAY<STRING>>",
        maxpartitionbytes=8192,
    )
    assert df.count() == 2000
    agg = df.select(F.explode("meta.tags").alias("t")).groupBy("t").count()
    assert {r.t: r["count"] for r in agg.collect()} == {
        "t0": 667, "t1": 667, "t2": 666
    }


def test_keep_offset_is_first_column_holding_owning_block(spark, tmp_path):
    """keep_offset=True puts ``offset`` first, and each row's offset is
    its owning block's file offset — the block holding the byte BEFORE
    the line's first byte (LineRecordReader's rule; block 0 for the
    first line) — across several blocks and splits of one file, header
    skipped."""
    import bisect
    import glob

    from pyspark.sql.types import LongType

    from fourmc_spark.format.reader import iter_block_payloads, scan_file_info
    from fourmc_spark.sources.records import read_4mc_csv, read_4mc_json

    p = str(tmp_path / "off")
    lines = ["id,name"] + [f"{i},user{i:06d}" for i in range(3000)]
    _write_lines(spark, p, lines)
    (path,) = glob.glob(f"{p}/part-*.4mz")
    codec, _, offsets = scan_file_info(path)
    assert len(offsets) > 3
    # (uncompressed start, block offset) of every block, in file order
    starts, owners, pos = [], [], 0
    with open(path, "rb") as f:
        for off, payload in iter_block_payloads(f, codec):
            starts.append(pos)
            owners.append(off)
            pos += len(payload)
    expect, at = {}, 0
    for ln in lines:
        if ln != lines[0]:
            owner = bisect.bisect(starts, max(at - 1, 0)) - 1
            expect[int(ln.split(",")[0])] = owners[owner]
        at += len(ln) + 1
    df = read_4mc_csv(spark, p, "id INT, name STRING", header=True,
                      keep_offset=True, maxpartitionbytes=8192)
    assert df.columns == ["offset", "id", "name"]
    assert df.schema["offset"].dataType == LongType()
    got = {r.id: r.offset for r in df.collect()}
    assert got == expect
    assert set(got.values()) <= set(offsets) and len(set(got.values())) > 3
    # the JSON twin exposes the same column; the default stays offset-free
    assert read_4mc_json(spark, p, "id INT", keep_offset=True).columns == [
        "offset", "id"]
    assert read_4mc_csv(spark, p, "id INT, name STRING").columns == [
        "id", "name"]


def test_newline_values_json_roundtrips_csv_documented(spark, tmp_path):
    """The line record model cannot carry embedded newlines in CSV
    (to_csv quotes them but the line reader splits on the raw byte —
    documented contract); the JSON model escapes them and roundtrips."""
    from pyspark.sql import functions as F

    from fourmc_spark.sources.records import (
        read_4mc_json, write_4mc_json,
    )

    df = spark.createDataFrame(
        [(1, "line1\nline2"), (2, "plain")], "k bigint, s string"
    )
    d = str(tmp_path / "nlj")
    write_4mc_json(df, d)
    back = read_4mc_json(spark, d, "k bigint, s string")
    assert sorted((r["k"], r["s"]) for r in back.collect()) == [
        (1, "line1\nline2"), (2, "plain")
    ]
    # typed NDJSON scan agrees (escaped \n never spans lines)
    typed = (spark.read.format("fourmc")
             .option("jsonschema", "k bigint, s string").load(d))
    assert typed.filter(F.col("s").contains("\n")).count() == 1
