"""Scaling-trend probe: times selected catalog queries across sf dirs
and prints per-query wall-clock plus the log-log slope between
successive scale factors (slope ~1 = linear in data volume; <1 =
fixed-cost dominated at these sizes).

Usage: python tools/scaling.py [query ...]
Defaults to the five historically slowest join/CC-heavy queries.
Results go to stdout as a markdown table (paste into SCALE.md §12).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

DEFAULT = [
    "q41_ngram_jaccard",
    "q02_group_agg",
    "q47_streaming_window_events",
    "q146_dedup_representative",
    "q66_dedup_components",
    # round-3 heavies (VERDICT r3 task 7): containment join, curation
    # funnel, correlation matrix, fuzzy entity match, PageRank, k-core
    "q180_containment_join",
    "q231_curation_funnel",
    "q234_correlation_matrix",
    "q167_fuzzy_entity_match",
    "q168_pagerank_neardup",
    "q184_kcore_decomposition",
    # round-4 heavies (VERDICT r4 task 7): semantic dedup, CUBE rollup,
    # trimmed mean, RFM, capstone ledger + its streaming twin
    "q236_semantic_dedup",
    "q246_cube_revenue",
    "q247_trimmed_mean",
    "q248_rfm_segmentation",
    "q250_training_data_build",
    "q251_streaming_training_build",
    # round-5 rewrite (q234 already above): per-bucket kNN Arrow kernel
    "q226_knn_label_noise",
    # round-6 heavies: multi-probe sweep, cross-lingual pairs, CDC chunk
    # kernel + its streaming ingest twin, vocab growth, split leakage
    "q277_lsh_multiprobe_sweep",
    "q281_crosslingual_neardups",
    "q282_cdc_chunk_dedup",
    "q284_vocab_growth",
    "q285_split_leakage_audit",
    "q286_streaming_cdc_ingest",
    # round-7 additions: CDC economics/ingest, boilerplate, repetition,
    # BPE pair counts, warm-start CC
    "q287_cdc_chunk_economics",
    "q288_growing_store_cdc_ingest",
    "q289_boilerplate_chunks",
    "q290_intra_doc_repetition",
    "q291_bpe_merge_pairs",
    "q292_warm_start_components",
    "q293_source_datasheet",
    "q294_streaming_ivf_cell_stats",
    "q295_adaptive_plan_report",
    "q296_text_embedding_alignment",
    "q297_streaming_vocab_growth",
    "q298_lsh_collision_calibration",
    "q299_bucket_width_audit",
    "q300_token_yield_forecast",
    # round-8 additions: perceptual media dedup family, BPE trainer,
    # media segment/frame overlap, span excision, constellation match
    "q301_media_phash",
    "q302_media_near_dups",
    "q303_cross_modal_alignment",
    "q304_bpe_trainer",
    "q305_media_shared_segments",
    "q306_video_frame_overlap",
    "q307_dup_span_excision",
    "q308_audio_constellation",
    "q309_media_dedup_ledger",
    "q310_streaming_media_ingest",
    "q311_bpe_tokenize_corpus",
    "q312_constellation_retrieval",
    "q313_neardup_edit_distance",
    "q314_media_datasheet",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT

    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.session import get_spark, time_noop_run, warm_up

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen/file-listing machinery once per sf dir
    for sf_dir, _ in SFS:
        warm_up(spark, sf_dir)

    rows = []
    for name in names:
        fn = QUERIES[name]
        ts = []
        for sf_dir, _ in SFS:
            # first run pays plan codegen + broadcast warmup; measure the
            # second (warm) run so slopes reflect data volume, not JIT
            time_noop_run(spark, fn, sf_dir)
            ts.append(time_noop_run(spark, fn, sf_dir))
        slopes = [
            math.log(ts[i + 1] / ts[i])
            / math.log(SFS[i + 1][1] / SFS[i][1])
            for i in range(len(ts) - 1)
        ]
        rows.append((name, ts, slopes))

    print("| query | sf0.001 s | sf0.01 s | sf0.1 s | slope 0.001→0.01 | slope 0.01→0.1 |")
    print("|---|---|---|---|---|---|")
    for name, ts, slopes in rows:
        print(
            f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} "
            f"| {slopes[0]:.2f} | {slopes[1]:.2f} |"
        )


if __name__ == "__main__":
    main()
