#!/usr/bin/env python
"""Regenerate EXPLAINS.md: the formatted physical plan for each headline
query at $SPARK_GRAFT_SF_DIR — the evidence behind PLANS.md's claims.

    python scripts/dump_plans.py > EXPLAINS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SHOWCASE = [
    "q01_filter_project",       # pushdown + pruning
    "q04_tpch_q1_agg",          # partial+final hash agg
    "q08_multijoin_revenue",    # join strategy selection
    "q13_window_rank",          # single-shuffle window
    "q35_session_window_batch", # batch SessionWindow aggregation
    "q15_topk",                 # TakeOrderedAndProject
    "q25_approx_distinct",      # HLL sketch agg
    "q30_salted_skew_join",     # salt in join keys
    "q31_hash_sample",          # map-side deterministic sample
    "dedup_minhash_pairs",      # LSH candidate/confirm pipeline
    "ann_ivf_topk",             # IVF probe join
    "pipeline_curation",        # composed curation plan
    "tpch_q09_profit",          # star join: broadcast dims, streamed fact
    "tpch_q18_large_orders",    # aggregate-before-join + top-k
    "tpch_q21_waiting_suppliers",  # double-EXISTS as one per-order agg
    "ann_quantized_topk",       # int8 prune + exact rescore
    "ts_rollup_cascade",        # raw shuffled once, day folds hour
    "curation_pack_sequences",  # per-group running-sum packing
    "text_bm25_topk",           # in-stage term filter, matched-terms-only shuffles
    "text_vocab_coverage",      # TakeOrdered feeds the global window
    "text_bpe_pairs",           # pair explode dies in-stage, distributed top-k
    "dedup_semantic",           # cluster-key equi-join bounds pairwise cosine
    "curation_mixture_sample",  # broadcast rates, map-side filter
    "graph_pagerank",           # Pregel rounds: reused edge fabric, per-round agg
    "dedup_global_chunks",      # min(struct) election, partial agg before shuffle
    "ts_funnel_stages",         # user-key joins, shrinking frontier
    "text_inverted_index",      # capped postings inside term aggregate
    "text_char_entropy",        # map-only per-row Python kernel
    "curation_token_budget",    # histogram cutoffs broadcast, map-side filter
    "embedding_assign_centroid",  # broadcast prototypes, map-side scoring
    "dedup_embedding_pairs",    # blocked BLAS pairwise via applyInPandas
    "q43_recursive_cte",        # UnionLoop recursion bounded by date span
    "stats_profile_table",      # one-pass wide agg + stack unpivot
    "multimodal_features",      # real PPM/BMP decode in mapInPandas, map-only
    "multimodal_video_frames",  # Y4M demux fan-out inside the executor batch
    "dedup_simhash_signatures", # map-only signatures: no token explosion shuffle
    "text_repetition",          # Arrow batch stats, map-only
    "text_quality_classifier",  # feature-hashed linear scoring, map-only fold
    "curation_c4_clean",        # line-rule filter fold, no shuffle
    "text_winnow_fingerprints", # posexplode + window-min, one doc-keyed shuffle
    "embedding_random_projection",  # integer matmul in one Arrow batch, map-only
    "ann_ivf_kmeans_topk",      # trained-int-quantizer IVF: map-only assign, broadcast probes
    "curation_pack_tokens",     # tokenize+pack: balanced (group,seq) regroup, no global sort
    "dedup_components_star",    # large/small-star rounds: shared node-key shuffle
    "multimodal_jpeg_roundtrip",  # pure-numpy T.81 codec inside one mapInPandas, map-only
    "multimodal_png_roundtrip",   # stdlib-zlib PNG codec inside one mapInPandas, map-only
    "multimodal_jpeg_420_roundtrip",  # interleaved 4:2:0 color twin, same map-only shape
    "multimodal_jpeg_progressive",  # SOF2 multi-scan codec, same map-only shape
    "multimodal_jpeg_cmyk_roundtrip",  # 4-component raw CMYK twin, map-only
    "sql_4mc_pruned_scan",      # 4mc sink + footer-index block pruning + resync scan
    "sql_4mc_file_pruned_scan",  # hive-partition pushdown prunes whole files
    "multimodal_jpeg_ycck_dispatch",  # Adobe YCCK via the decode_image seam, map-only
    "stream_4mc_sink",          # streaming sink: sealed 4mz files read back
    "stream_4mc_multibatch",    # offset chain across rate-limited batches
    "stream_proto_sink",        # streaming EB-protobuf sink read back
    "stream_4mc_ordered_multibatch",  # O(1) ordered-names offset chain, sink-fed
    "text_heavy_hitters",       # MG candidate sketch + broadcast exact recount
    "sql_4mc_zonemap_scan",     # typed NDJSON scan, zone-map file pruning
    "sql_4mc_zonemap_blocks_scan",  # block-tier zone maps inside kept files
    "maintenance_compact_zonemap",  # ANALYZE -> carry-stats compact -> pruned query
    "sql_4mc_sinkstats_scan",   # write-time zone maps from the sink itself
    "sql_4mc_zonemap_ts_scan",  # temporal zone maps: ts range prunes files
    "proto_4mc_zonemap_scan",   # zone maps on the protobuf typed scan
    "proto_4mc_zonemap_blocks_scan",  # proto block tier (sync-marker seams)
    "stream_4mc_sinkstats_scan",  # statsschema sealed by the STREAMING sink
    "stream_heavy_hitters",     # MG sketch as keyed state + exact recount
    "sql_4mc_bloom_scan",       # bloom sidecars: point-IN pruning, unclustered keys
    "maintenance_compact_bloom",  # bloom OR-merge carry through raw compaction
    "proto_4mc_bloom_scan",     # blooms on the protobuf typed scan (same pass)
    "stream_4mc_bloomsink_scan",  # write-time blooms from the streaming sink
    "sql_4mc_bloom_blocks_scan",  # per-BLOCK bloom tier inside kept files
    "sql_4mc_csv_zonemap_scan",   # the typed pruning tier on CSV lines
]


def main() -> None:
    from fourmc_spark.queries import QUERIES
    from fourmc_spark.session import get_spark

    spark = get_spark("dump-plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    print("# EXPLAINS — formatted physical plans (generated by "
          "scripts/dump_plans.py)\n")
    print(f"Scale factor dir: `{SF_DIR}`. Regenerate after plan-affecting "
          "changes; tests/test_plans.py pins the load-bearing properties.\n")
    for name in SHOWCASE:
        df = QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        print(f"## {name}\n\n```\n{txt.rstrip()}\n```\n")
    spark.stop()


if __name__ == "__main__":
    main()
