"""Empirical scaling check: run the BENCH headline queries at every
available scale factor (sf0.001 / sf0.01 / sf0.1 — a 100× data span) and
report per-query times plus the 10× ratios.

A query whose time grows ~linearly (ratio ≈ data ratio, often much less
while per-query fixed costs dominate) holds at scale; a superlinear ratio
flags an operator whose plan degrades with data size (e.g. a quadratic
candidate blow-up). Output: markdown to stdout — redirect into
docs/SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # single source of truth for the bench set

# r2 flagship additions swept here (not in BENCH: the headline total stays
# comparable across rounds; scaling behavior is still verified per-op)
EXTRA = [
    "text_chunk_windows",
    "pipeline_chunk_pack",
    "dedup_incremental",
    "text_tfidf_topterms",
    "text_rare_bigram_frac",
    "sample_weighted_priority",
    "dedup_clusters_twophase",
    "text_strip_html",
    "q_corr_qty_price",
    "q_user_value_outliers",
    "q_upsert_merge",
    "multimodal_gif_frames_real",
    "dedup_lsh_recall",
    "graph_triangle_count",
    # r2 late additions (bm25/semantic arrive via HEADLINE); the refined
    # JPEG decode is the deepest multi-scan decoder path
    "multimodal_jpeg_refined_real",
    # r3 additions: the DOULION estimator must beat the exact path's sf1
    # wall-time; the stsd walk is a new Arrow-map tier
    "graph_triangle_estimate",
    "multimodal_video_stsd",
    # r4 (r3 verdict item #5): MERGE INTO at scale (one keyed shuffle per
    # side, duplicate-key guard window reuses the exchange), and the int4
    # quantize narrow-map (nibble packing + array_join serialization)
    "q_merge_into",
    "embedding_quantize_int4",
    # r4 second wave: the bit-reproducible iterative trio (fixed-round
    # driver loops — expect near-flat cost dominated by per-round fixed
    # overhead until the data term catches up), the Z-order/SCD2/fuzzy
    # relational additions, and the expression-level BPE stats path
    "graph_pagerank_int",
    "kmeans_clusters_int",
    "text_bpe_exact",
    "q_zorder_layout",
    "q_scd2_history",
    "dedup_fuzzy_names",
    # r4 third wave: the PQ pair (encode = pure narrow map — expect
    # near-flat; ADC = broadcast scan + one q_id shuffle) and the HLL
    # union (map-side reduction to <= |types| * 64 register rows)
    "embedding_quantize_pq",
    "similarity_topk_pq_adc",
    "similarity_topk_ivfpq",
    "sketch_hll_union",
    "graph_kcore",
    "graph_label_propagation",
    "dedup_canonical_pick",
    "text_gopher_rules",
    "text_blocklist_filter",
    # r4 fourth wave: the global-rank pairing (one range exchange over
    # (key, hash) pairs), the window-quantile band, the JL narrow map,
    # the water-filling allocation (one groupBy + tiny windows), the
    # salted-wedge link predictor (Σdeg² — the heaviest of the wave),
    # the stts timing walk, the CC-keyed split, CDC chunk dedup (one fp
    # shuffle), and broadcast hard-negative mining
    "sample_negative_pairs",
    "text_length_band_filter",
    "embedding_random_projection",
    "sample_unimax_mix",
    "graph_link_prediction",
    "multimodal_video_fps",
    "sample_cluster_split",
    "dedup_cdc_chunks",
    "similarity_hard_negatives",
    # r4 fifth wave: sketches (KMV/theta TakeOrdered shapes), fusion/eval
    # over tiny rank lists, single-window temporal ops, frontier BFS,
    # narrow-map embedding ops, the JFIF/fps Arrow walks, the one-row
    # dedup ROI rollup, and the vocab-broadcast OOV rate
    "sketch_kmv_distinct",
    "sketch_theta_overlap",
    "text_hybrid_rrf",
    "text_retrieval_eval",
    "q_ohlc_downsample",
    "q_gap_detection",
    "q_first_touch_attribution",
    "q_compaction_plan",
    "graph_khop_reach",
    "graph_degree_distribution",
    "text_oov_rate",
    "embedding_matryoshka",
    "multimodal_jfif_real",
    "dedup_savings_report",
    # r5 wave: single-window temporal analytics (EWMA taps / gap
    # interpolation / exact-median MAD), the full-outer snapshot diff,
    # the decimal-summed log scores, the one-pass AMS sketch, per-source
    # weighted reservoirs, the Θ(m^1.5) clustering coefficient (the
    # DOULION-sampled graph is the 100 TB path, same as the triangle
    # pair), the closed-form IVF recall gate, integer embedding
    # centering, zone-map accounting, and the three new real-byte codecs
    # (G.711 mu-law, QOI, baseline TIFF — all Arrow narrow maps)
    "q_ewma_smooth",
    "q_interp_gapfill",
    "q_mad_outliers",
    "q_snapshot_diff",
    "text_unigram_logprob",
    "text_char_entropy",
    "sketch_ams_f2",
    "sample_weighted_reservoir",
    "graph_clustering_coeff",
    "similarity_ivf_recall",
    "embedding_center_project",
    "q_file_skip_stats",
    "multimodal_mulaw_real",
    "multimodal_qoi_real",
    "multimodal_tiff_pixels_real",
    # r5 second wave: the binary-quantization pair (narrow map; Hamming
    # search = XOR+popcount broadcast scan) and order-statistic clipping
    "embedding_quantize_binary",
    "similarity_topk_hamming",
    "q_winsorize",
    # r5 third wave: the two-stage binary cascade, neighborhood Jaccard
    # (wedge-keyed), unrolled MMR, and the SOF3 lossless codec walk
    "similarity_binary_rerank",
    "graph_jaccard_neighbors",
    "similarity_mmr_rerank",
    "multimodal_jpeg_lossless_real",
    # r5 fourth wave: growth/flow analytics (one window + one agg each),
    # drift monitors and data-quality audits (bounded cell aggregates),
    # the assortativity one-number scan, the PCM resample narrow map,
    # and the SCD2 interval lookup (user-keyed join)
    "q_running_distinct",
    "q_event_transitions",
    "graph_assortativity",
    "q_psi_drift",
    "text_kl_source_drift",
    "q_benford_digits",
    "q_fd_violations",
    "multimodal_wav_resample",
    "q_temporal_lookup",
    # r5 fifth wave: per-seed labeled BFS centrality + soft dedup weights
    "graph_harmonic_centrality",
    "dedup_soft_weights",
    # r6 wave: the A-law Arrow map, inverted-index containment, the
    # canonical-URL aggregate, the union-window tolerant as-of, the
    # one-pass covariance moments, LSH-bucketed range search, the
    # top-256 Zipf fit, sparse-HLL linear counting, and the two
    # global_positions rewrites (shuffle_order / pack_sequences — the
    # negative_pairs rewrite re-sweeps via its existing row above)
    "multimodal_alaw_real",
    "dedup_containment",
    "dedup_url_canonical",
    "q_asof_tolerance_join",
    "embedding_covariance",
    "similarity_range_search",
    "text_zipf_fit",
    "sketch_hll_sparse",
    "sample_shuffle_order",
    "sample_pack_sequences",
    # r6 second wave: the one-shuffle window funnel, the zero-float
    # Poisson bootstrap, and the integer CUSUM monitor
    "q_window_funnel",
    "sample_poisson_bootstrap",
    "q_cusum_changepoint",
    # r7 wave: the fixed-round integer RWR (expect superstep-overhead-
    # bound, near-flat like pagerank_int), the two TakeOrdered KMV/top-k
    # shapes, the bounded register/moment audits, the group-partitioned
    # rank bands, the dim2-bounded scatter-matrix collect, and the two
    # Arrow-map codec tiers
    "graph_pagerank_personalized_int",
    "sketch_theta_anotb",
    "sketch_hll_switchover",
    "q_percentile_bands",
    "embedding_top_pc_int",
    "multimodal_png_adam7_real",
    "text_pmi_bigrams",
    "q_mode_per_group",
    # r7 second/third wave: the weighted integer RWR (same superstep
    # shape), three bounded-sketch shapes (register merge, TakeOrdered
    # bottom-k, single-pass decay agg), two RLE codec Arrow maps, the
    # map-side-collapsed profile/ladder/feature-hash text ops, and the
    # global_positions curriculum rank
    "graph_pagerank_weighted_int",
    "sketch_hll_intersection",
    "sketch_bottomk_rank_error",
    "q_decay_counts",
    "multimodal_tiff_packbits_real",
    "multimodal_bmp_rle8_real",
    "text_qgram_lang_distance",
    "text_longest_dup_ngram",
    "text_hashed_ngram_features",
    "sample_curriculum_order",
    # r7 fourth/fifth wave
    "dedup_lsh_scurve",
    "graph_pagerank_weighted_personalized_int",
    "text_lang_attribution",
    "q_activity_bitmaps",
    "text_bigram_lm_perplexity",
    # r8 wave: the integer-DCT pHash Arrow map + keyed twin join, the
    # 16-step integer LR (expect near-flat: 33 bounded agg passes
    # dominate until the data term catches up, like pagerank_int), the
    # trigram LM (one more keyed join than its bigram twin), the weekly
    # bitmap window, and the two greedy-BPE tokenizers (word-TYPE-bounded
    # encode; corpus term only in the word-count shuffle)
    "multimodal_phash_int",
    "text_quality_lr_int",
    "text_trigram_lm_perplexity",
    "q_activity_bitmaps_weekly",
    "text_bpe_tokens",
    "text_bpe_bytes",
    # r9 wave: the joint one-vs-rest LR (2 bounded aggs x 12 steps —
    # near-flat like its binary twin until the data term dominates), the
    # streaming scored emission (source read + narrow map; micro-batch
    # fixed cost dominates at small sf), and the composed pipeline
    # (LR train + fingerprint shuffle + chunk/pack windows)
    "text_quality_lr_multiclass",
    "text_quality_lr_stream_score",
    "pipeline_quality_dedup_pack",
    # stupid backoff: 5 keyed joins against vocabulary-bounded counts
    "text_backoff_lm_score",
    # WordPiece maximal munch: same word-TYPE-bounded Arrow-map tier as BPE
    "text_wordpiece_tokens",
    # stateful streaming windowed agg: micro-batch fixed cost dominates;
    # the data term is the same (window, key) partial-agg shuffle as the
    # batch twin
    "q_window_tumbling_stream",
    # DoReMi-lite: one corpus pass for domain losses, then 20-row steps
    "sample_domain_reweight_int",
    # r10 wave: the unigram Viterbi segmenter (trainer driver rounds
    # dominate — the WordPiece/BPE pattern), and the three streaming
    # queries (sliding panes 2x state rows; replay dedup = 2x source
    # read + dedup state; merging session windows |sessions| state) —
    # all micro-batch-fixed-cost dominated at these scales
    "text_sentencepiece_tokens",
    "q_window_sliding_stream",
    "q_stream_dedup_replay",
    "q_session_window_stream",
    # DSIR: two 256-row bucket-count shuffles + one doc_id shuffle;
    # the 256-row weight table broadcasts; top-K is TakeOrdered
    "sample_dsir_select",
    # update-mode running state: |event_type| state rows, corpus-free
    "q_running_aggregate_stream",
    # stream-stream interval join: state bounded by the 1-day horizon
    "q_stream_stream_join",
    # outer variant: same state, watermark-driven NULL emission
    "q_stream_join_outer",
    # media pipeline: fixed 200-image fixture; only 8-byte hashes shuffle
    "pipeline_media_dedup_shard",
]
# HEADLINE absorbed two EXTRA entries in r3 — dedupe, preserve order
SWEEP = list(dict.fromkeys(HEADLINE + EXTRA))

BASE = "/root/testdata"
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".testdata", "sf1"),
)
RATIO_FLAG = 10.0  # 10x data -> >10x time = superlinear, flag it


def main() -> None:
    from gearpump_spark.session import get_spark
    from gearpump_spark.queries import all_queries

    # (label, dir) per scale step; sf1 is synthesized (tools/make_sf1.py)
    # and joins the sweep when present — run make_sf1 first for the top step.
    sfs = [(sf, f"{BASE}/{sf}") for sf in ("sf0.001", "sf0.01", "sf0.1")]
    if os.path.isdir(SF1_DIR):
        sfs.append(("sf1*", SF1_DIR))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Chunked runs: SPARK_GRAFT_SWEEP_ONLY=a,b,c restricts this invocation
    # to a subset (keeps each run inside a CI/tooling timeout);
    # SPARK_GRAFT_SWEEP_JSON=path dumps {name: [times...]} so chunked
    # invocations can be merged into one report afterwards.
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    sweep = [n for n in SWEEP if n in set(only.split(","))] if only else SWEEP
    spark = get_spark("scaling_report", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # warm codegen per plan shape at the smallest sf
    for name in sweep:
        qs[name](spark, sfs[0][1]).write.mode("overwrite").format("noop").save()

    times: dict[str, list[float]] = {name: [] for name in sweep}
    for _label, sf_dir in sfs:
        # r6 (r5 verdict #4): pinned warm-up — one untimed pass over every
        # table in this sf dir so rows measure the operator, not cold
        # first-touch IO. graph_triangle_estimate at sf1 was bimodal
        # (~23 s warm vs ~84 s cold) before this; best-of-2 already
        # half-warmed most rows, this makes it the protocol.
        from gearpump_spark.datasets import TABLES, table as _table

        for t in TABLES:
            try:
                _table(spark, sf_dir, t).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception:
                pass
        for name in sweep:
            best = float("inf")
            for _ in range(2):
                # construction is INSIDE the timer: iterative queries
                # (pagerank_int / kmeans_int / bpe_exact training loops,
                # eager localCheckpoints) do their work while building
                # the plan; for declarative queries construction is ~ms
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            times[name].append(best)

    json_out = os.environ.get("SPARK_GRAFT_SWEEP_JSON")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump({"labels": [l for l, _ in sfs], "times": times}, f)

    labels = [label for label, _ in sfs]
    print("# Scaling report (best-of-2, noop sink, local[%d])\n" % cpus)
    print("10× data per step; a ratio well under 10 means fixed costs still")
    print("dominate; a ratio near 10 is linear scaling; above 10 is flagged ⚠.")
    if len(sfs) > 3:
        print("sf1* is synthesized: 10× sf0.1 with offset keys (tools/make_sf1.py).")
    print()
    header = " | ".join(labels)
    ratio_hdr = " | ".join(f"{a}→{b}" for a, b in zip(labels, labels[1:]))
    print(f"| query | {header} | {ratio_hdr} |")
    print("|---" * (1 + len(labels) + len(labels) - 1) + "|")
    flagged = []
    for name in sweep:
        ts = times[name]
        ratios = [b / a for a, b in zip(ts, ts[1:])]
        cells = " | ".join(f"{t:.2f}s" for t in ts)
        rcells = " | ".join(
            f"{r:.1f}×" + (" ⚠" if r > RATIO_FLAG else "") for r in ratios
        )
        if any(r > RATIO_FLAG for r in ratios):
            flagged.append(name)
        print(f"| {name} | {cells} | {rcells} |")
    if flagged:
        print(f"\n**⚠ superlinear step-ratio (> {RATIO_FLAG}×):** {', '.join(flagged)}")


if __name__ == "__main__":
    main()
