"""newAPIHadoopFile migration shim (reference Readme.md:110-131)."""

import pytest

from fourmc_spark.format import write_file
from fourmc_spark.hadoop_compat import new_api_hadoop_file, text_file_4mc


@pytest.fixture()
def mc_file(tmp_path):
    data = ("\n".join(f"line {i}" for i in range(50000)) + "\n").encode()
    p = str(tmp_path / "foo.4mc")
    write_file(p, data, codec="lz4", level="fast", block_size=64 * 1024)
    return p, data


def test_reference_recipe_shape(spark, mc_file):
    path, data = mc_file
    rdd = new_api_hadoop_file(
        spark, path,
        "com.fing.mapreduce.FourMcTextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
    )
    first = rdd.take(1)[0]
    assert first == (12, "line 0")  # offset = owning block (first = 12, after header)
    assert rdd.count() == 50000
    assert rdd.map(lambda kv: kv[1]).collect() == data.decode().splitlines()


def test_split_maxsize_conf_maps_to_partitions(spark, mc_file):
    path, _ = mc_file
    few = new_api_hadoop_file(spark, path).getNumPartitions()
    many = new_api_hadoop_file(
        spark, path,
        conf={"mapreduce.input.fileinputformat.split.maxsize": "65536"},
    ).getNumPartitions()
    assert many > few  # splittable: smaller max split -> more partitions


def test_rows_keep_file_order_across_files(spark, tmp_path):
    # small files share partitions, yet the RDD yields lines in file and
    # block order, as Hadoop's splits do
    want = []
    for i in range(8):
        lines = [f"f{i} line {j}" for j in range(3000)]
        want += lines
        write_file(str(tmp_path / f"part-{i:02d}.4mc"),
                   ("\n".join(lines) + "\n").encode(), codec="lz4",
                   block_size=4096)
    packed = new_api_hadoop_file(spark, str(tmp_path))
    assert packed.getNumPartitions() < 8
    assert packed.map(lambda kv: kv[1]).collect() == want
    split = new_api_hadoop_file(
        spark, str(tmp_path),
        conf={"mapreduce.input.fileinputformat.split.maxsize": "8192"},
    )
    assert split.getNumPartitions() > 8
    assert split.map(lambda kv: kv[1]).collect() == want


def test_unknown_input_format_rejected(spark, mc_file):
    path, _ = mc_file
    with pytest.raises(ValueError, match="unsupported input format"):
        new_api_hadoop_file(spark, path, "org.example.SomeOtherInputFormat")


def test_text_file_twin(spark, mc_file):
    path, data = mc_file
    rdd = text_file_4mc(spark, path, maxpartitionbytes=65536)
    assert rdd.getNumPartitions() > 1  # the README's complaint about textFile
    assert rdd.count() == 50000
