"""The per-row Python kernels of the text, dedup and curation operators,
pinned on edge inputs, and the public surface of the operator modules."""

import inspect

import pytest

from fourmc_spark.operators import curation, dedup, multimodal, text

_MERGES = [(1, "t", "h"), (2, "th", "e"), (3, "a", "t")]

# (kernel, output schema, rows sorted by id) on _ROWS below
_KERNELS = {
    "repetition_stats": (
        lambda df: text.repetition_stats(df),
        "struct<doc_id:int,n_tokens:bigint,dup_token_frac:double,"
        "dup_bigram_frac:double,dup_trigram_frac:double,"
        "top_token_count:bigint,top_token_frac:double>",
        [(1, 1, 0.0, 0.0, 0.0, 1, 1.0), (2, 1, 0.0, 0.0, 0.0, 1, 1.0),
         (3, 1, 0.0, 0.0, 0.0, 1, 1.0), (4, 5, 0.4, 0.25, 0.0, 2, 0.4),
         (5, 7, 0.2857, 0.0, 0.0, 2, 0.2857)],
    ),
    "char_entropy": (
        lambda df: text.char_entropy(df),
        "struct<doc_id:int,n_chars:bigint,n_distinct_chars:bigint,"
        "entropy_bits:double>",
        [(1, 0, 0, 0.0), (2, 0, 0, 0.0), (3, 4, 4, 2.0),
         (4, 19, 7, 2.6498), (5, 26, 10, 2.9689)],
    ),
    "bpe_encode": (
        lambda df: text.bpe_encode(df, _MERGES),
        "struct<doc_id:int,tokens:array<string>,n_tokens:bigint>",
        [(3, ["w", "o", "r", "d", "</w>"], 5),
         (4, ["the", "</w>", "c", "at", "</w>", "the", "</w>", "c", "at",
              "</w>", "s", "at", "</w>"], 13),
         (5, ["the", "</w>", "c", "at", "</w>", "s", "at", "</w>", "o", "n",
              "</w>", "the", "</w>", "m", "at", "</w>", "m", "at", "</w>"],
          19)],
    ),
    "minhash_signatures": (
        lambda df: dedup.minhash_signatures(df, k=4),
        "struct<doc_id:int,mh00:bigint,mh01:bigint,mh02:bigint,mh03:bigint>",
        [(4, 143442211, 255205771, 161881040, 414632235),
         (5, 143442211, 186709191, 223514292, 840417810)],
    ),
    "simhash_signatures": (
        lambda df: dedup.simhash_signatures(df),
        "struct<doc_id:int,simhash:bigint>",
        [(2, 1411222746), (3, 1149048945), (4, 1407460431),
         (5, 1264921667)],
    ),
    "contamination": (
        lambda df: curation.contamination(df, bench_mod=4, n=2),
        "struct<doc_id:int,n_shingles:bigint,n_contaminated:bigint,"
        "contamination_frac:double>",
        [(1, 0, 0, 0.0), (2, 0, 0, 0.0), (3, 0, 0, 0.0), (5, 6, 2, 0.3333)],
    ),
}

# a NULL text, an empty string, a one-token document, two plain ones
_ROWS = [(1, None), (2, ""), (3, "word"), (4, "the cat the cat sat"),
         (5, "the cat sat on the mat mat")]


@pytest.mark.parametrize("name", sorted(_KERNELS))
def test_row_kernel_edge_inputs(spark, name):
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    kernel, schema, expected = _KERNELS[name]
    in_schema = StructType([StructField("doc_id", IntegerType()),
                            StructField("text", StringType())])
    # 8 slices of 5 rows: empty input partitions, and partitions whose
    # rows all produce no output (NULL or empty text alone)
    df = spark.createDataFrame(spark.sparkContext.parallelize(_ROWS, 8),
                               in_schema)
    out = kernel(df)
    assert out.schema.simpleString() == schema
    got = sorted((tuple(r) for r in out.collect()), key=lambda t: t[0])
    assert got == expected


def _public_defs(mod) -> set:
    return {
        name for name, obj in vars(mod).items()
        if not name.startswith("_")
        and (inspect.isfunction(obj) or inspect.isclass(obj))
        and obj.__module__ == mod.__name__
    }


@pytest.mark.parametrize("mod", [text, dedup, curation, multimodal],
                         ids=lambda m: m.__name__.rsplit(".", 1)[-1])
def test_all_lists_the_public_functions_and_classes(mod):
    listed = {n for n in mod.__all__
              if inspect.isfunction(getattr(mod, n))
              or inspect.isclass(getattr(mod, n))}
    assert listed == _public_defs(mod)
    # every other entry is a name the module binds (its constants)
    assert set(mod.__all__) <= set(vars(mod))
