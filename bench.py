"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": "..."}

Each timed run executes the full plan (collect of the small final
result — every headline query ends in an aggregate/top-k, so the
collect is bounded; nothing large crosses the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Representative headline set: reference-parity ETL, scan/join/agg
#: analytics, window + sessionization, and the LLM-data operators
#: whose scale behavior matters most (hash dedup, LSH, ANN).
HEADLINE = (
    "etl_agg_public_holiday",
    "etl_agg_shipments",
    "etl_best_performing_product",
    "q_pricing_summary",
    "q_top_revenue_orders",
    "q_regional_volume",
    "q_revenue_forecast",
    "q_top_parts_per_brand",
    "q_lineitem_window_running",
    "q_events_sessionize",
    "q_events_tumbling",
    "q_events_asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cc_keepset",
    "sim_search_bruteforce",
    "sim_search_ivf",
    "text_quality",
    "text_fingerprint",
    # round-2 additions
    "dedup_ngram_jaccard",
    "text_tfidf_topk",
    "q_profile_orders",
    "q_scd2_customer_priority",
    "q_events_salted_join",
    "kmeans_embeddings",
    "q_orders_merge_upsert",
    "q_quality_constraints",
    "text_shard_pack",
    "q_events_hopping",
    "text_span_dedup",
    "text_decontaminate",
    "text_chunk",
    "q_customer_fuzzy_match",
    "embedding_quantize",
    "q_customer_hierarchy",
    "q_events_user_features",
    "embedding_hard_negatives",
    # round-3 additions
    "q_tpch03_shipping_priority",
    "q_tpch05_local_supplier_volume",
    "q_tpch08_market_share",
    "q_tpch13_customer_distribution",
    "q_tpch18_large_volume_customer",
    "q_events_ewma",
    "q_events_cusum",
    "text_sample_weighted",
    "text_bloom_decontaminate",
    "graph_triangle_count",
    "graph_pagerank",
    "q_events_stl_weekday",
    "text_dsir_weights",
    "embedding_pq_stats",
    # session-3 additions (suite-completing TPC-H shapes)
    "q_tpch02_min_cost_supplier",
    "q_tpch21_waiting_orders",
    # round-4 additions
    "graph_components",
    "sim_search_pq_adc",
    "embedding_covariance",
    "graph_kcore",
    "hybrid_search_rrf",
    "q_customer_survival_km",
    "q_orders_psi_drift",
    # round-5/6 additions (cogroup Python lane + real-codec decodes)
    "q_order_billing_cogroup",
    "mm_image_decode_bmp",
    "mm_image_decode_png",
    "mm_video_decode_y4m",
    "mm_decode_router",
    "semdedup_prune",
    "mm_image_decode_jpeg",
    "mm_image_decode_jpeg_color",
    "mm_video_scene_cuts",
    "mm_audio_silence_trim",
    # round-6 additions (retrieval ranking, block dedup, image
    # resample, community detection, SQ8 ANN, link prediction,
    # HITS, fuzzy linkage)
    "text_bm25_rank",
    "text_block_dedup",
    "mm_image_resize",
    "graph_label_propagation",
    "sim_search_sq8",
    "graph_adamic_adar",
    "graph_hits",
    "text_fuzzy_dups",
    "graph_harmonic_sample",
    "text_rake_keywords",
    "mm_image_hist_equalize",
    "sim_search_ndcg",
    # round-7 additions
    "mm_image_decode_jpeg_420",
    "mm_image_decode_gif",
    "mm_image_decode_jpeg_progressive",
    "text_winnowing",
    "dedup_shingle_containment",
    "graph_squares",
    "sim_search_pq_rerank",
    # round-8 additions (tokenizer training/encode, span ladder,
    # in-engine IRLS training + eval, bigram LM, community quality,
    # semantic-dedup sweep)
    "text_bpe_train",
    "text_bpe_encode",
    "text_span_ladder",
    "text_quality_train",
    "text_quality_auc",
    "text_bigram_lm_heldout",
    "graph_conductance",
    "embedding_dedup_threshold_curve",
    # round-9 additions (within-doc repetition panel, perceptual-hash
    # image near-dup, unigram-LM tokenizer train + held-out eval)
    "text_repetition_rules",
    "mm_image_phash_dedup",
    "text_unigram_lm_train",
    "text_unigram_lm_heldout",
    # round-10 additions (fuzzy eval-set decon, per-source cap
    # keep-set, mel-filterbank energies + MFCC, leakage-safe split,
    # frame-level video phash dedup)
    "text_decontaminate_fuzzy",
    "text_source_caps",
    "mm_audio_mel_energy",
    "mm_audio_mfcc",
    "text_split_leakage_safe",
    "mm_video_phash_dedup",
    # round-11 additions (training-row packing, ADPCM decode arm,
    # retrieval chunking + boilerplate, curriculum schedule)
    "text_pack_sequences",
    "mm_audio_adpcm_decode",
    "text_chunk_windows",
    "text_boilerplate_chunks",
    "text_curriculum_phases",
    # round-12 additions (FLAC subset decode arm, DiD readout,
    # Lowe-ratio margin, tokenizer fertility, uplift deciles,
    # Hill tail index, P6 color netpbm)
    "mm_audio_decode_flac",
    "q_events_did",
    "embedding_topk_margin",
    "text_tokenizer_fertility",
    "q_events_uplift_deciles",
    "q_orders_hill_tail_index",
    "mm_image_decode_ppm",
    # round-13 additions (full-profile FLAC stereo/LPC decode,
    # per-lang fertility, join-skew + IVF-imbalance diagnostics,
    # Z-order layout experiment, block motion estimation,
    # participation ratio, watermark audit, Markov attribution)
    "mm_audio_decode_flac_stereo",
    "text_fertility_by_lang",
    "q_join_skew_report",
    "layout_zorder_pruning",
    "mm_video_motion_estimate",
    "embedding_participation_ratio",
    "text_watermark_detect",
    "q_events_markov_attribution",
    "sim_search_ivf_imbalance",
    # round-14 additions
    "layout_bloom_pruning",
    "text_bpe_roundtrip",
    "mm_pair_crossmodal_dedup",
)

#: Second standing table (round-13, VERDICT r12 task 3): the slowest
#: queries that were NEVER in the headline set — their only timing
#: evidence was contended sf0.01 sweep reads, so a regression there
#: was uncatchable. Run with `python bench.py --tail` (the driver's
#: plain invocation still runs HEADLINE only); rows live in
#: BASELINE.md beside the main standing table. The four stream_*
#: rows are micro-batch fixed-cost dominated — see the BASELINE.md
#: stream analysis — so their standing value is a regression tripwire
#: for the fixed cost, not a data-scaling readout.
TAIL = (
    "stream_abandoned_clicks",
    "stream_click_purchase_join",
    "stream_order_ship_reconcile",
    "stream_windowed_distinct",
    "graph_pagerank_converged",
    "graph_jaccard_links",
    "q_orders_kruskal_wallis",
    "embedding_anisotropy",
    # round-14: graph-ANN rows — both pay the one-time NSW index
    # build (the session memo is restored between reps by the
    # cold-memo protocol, so the standing value prices build+search
    # exactly as the driver's single-pass would).
    "sim_search_hnsw",
    "sim_search_hnsw_recall",
)


def main() -> None:
    import __spark_entry__ as entry
    from postgres_s3_etl_spark.session import SESSION_MEMO, get_spark

    tail_mode = "--tail" in sys.argv[1:]
    suite = TAIL if tail_mode else HEADLINE
    metric = "tail_suite_total" if tail_mode else "headline_suite_total"
    out_name = "bench_tail_latest.json" if tail_mode else "bench_latest.json"

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    # Warm up outside the timed region: run every headline query once
    # at the smallest SF. Plans are schema-identical across SFs, so
    # this compiles the same whole-stage-codegen classes the timed
    # runs will execute — the timings then measure plan execution,
    # not first-call JIT (which at these data sizes would dominate).
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        for name in suite:
            qs[name](spark, warm_sf).collect()
    spark.catalog.clearCache()

    # SPARK_GRAFT_BENCH_REPEAT=N reports best-of-N per query.
    # Default 1 — the driver's single-pass protocol — so official
    # artifacts stay comparable across rounds and to the standing
    # table's single-pass rows. Best-of-N is opt-in (set =3) for
    # local noise-hunting on a shared host (BASELINE.md documents
    # 0.75s→10.6s spikes on identical plans under co-tenant load);
    # such runs are labelled by `repeat` in the output JSON.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))

    # Session memo (BPE merges, unigram-LM EM, NSW index, graph edges).
    # Under best-of-N, rep 1 of a TRAIN-shaped query warms the memo
    # and reps 2..N read it back, so the recorded "best" measures a
    # dict lookup — while the driver's single-pass protocol pays the
    # real training. Restoring each query's memo state to what it was
    # when ITS first rep started makes every rep see exactly the
    # memo state the single-pass suite would give that query (train
    # queries stay cold per rep; downstream encode/vocab/heldout
    # queries stay warm, as they are in a suite run; the first graph
    # row in suite order pays the edge build, later rows reuse it).
    # Round-9 verdict defect #1: without this, standing rows for the
    # memoized trainers under-state the driver by 3-4x.

    timings: dict[str, float] = {}
    # rep-1 ("cold") time per query, recorded beside best-of-N so a
    # noisy single-pass driver read is explainable from the repo
    # alone (round-11 verdict: two 11-16x driver spikes took a judge
    # re-measurement to exonerate; a cold column pre-explains them).
    colds: dict[str, float] = {}
    for name in suite:
        fn = qs[name]
        best = float("inf")
        snap = SESSION_MEMO.snapshot()
        for rep in range(repeat):
            SESSION_MEMO.restore(snap)
            t0 = time.perf_counter()
            rows = fn(spark, SF_DIR).collect()
            dt = time.perf_counter() - t0
            if rep == 0:
                colds[name] = round(dt, 3)
            best = min(best, dt)
            assert rows is not None
            # Operators persist() bounded intermediates (LSH bands,
            # kept shingles, CC frontiers) that are only released with
            # the plan; dropping them between runs keeps every timed
            # run cold-cache-equivalent and stops repeat N from paying
            # for the leftovers of runs 1..N-1.
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or SF_DIR
    full = {
        "metric": metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeat": repeat,
    }
    if repeat > 1:
        full["cold"] = colds
    # Full per-query blob first — for humans and for the on-disk copy.
    print(json.dumps(full))
    with open(Path(__file__).resolve().parent / out_name, "w") as fh:
        json.dump(full, fh, indent=1)
    # The driver parses the bench JSON out of a bounded (~2000-char)
    # stdout tail; the per-query map outgrew that at 83 queries and the
    # round-6 artifact was lost (parsed: null). The LAST lines are
    # compact summaries that always fit the tail window.
    summary = {
        "metric": metric,
        "value": full["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "repeat": repeat,
    }
    print(json.dumps(summary))
    # Round-15 (VERDICT r14 task 1): per-query signal the driver's
    # bounded tail can actually hold — the 20 slowest queries. The
    # final line repeats every summary field so a parser that reads
    # only the last JSON line still gets the totals; PERF comparisons
    # can then diff the hot rows even though the full 132-entry map
    # overflows the tail window.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    print(json.dumps({**summary, "slowest": slowest}))


if __name__ == "__main__":
    main()
