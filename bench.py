"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "master": ...,
"default_parallelism": ...}.

Execution is measured with the noop sink (full plan runs, no driver
collect) after a warm-up pass of the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational spine
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q6_revenue_change",
    "a1_daily_mean",
    # time-series flagships
    "w18_disaggregation",
    "w1_bounded_gap_fill",
    "m7_seasonal_decompose",
    "w7_blocked_cv_folds",
    "w_sessionize",
    # training-data pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_quality_score",
    "sim_topk_bruteforce",
    # round-2 additions: analytic spine + corpus pipeline + rollup
    "tpch_q8_market_share",
    "w_session_window_native",
    "pipeline_chunk_documents",
    "pipeline_contamination",
    "rollup_monthly_from_daily",
    # round-2 wave 2: smoothing, anomaly, layout, geo, corpus quality
    "m20_holt_smoothing",
    "ts_anomaly_zscore",
    "scale_zorder_layout",
    "geo_geohash_join",
    "text_repetition_score",
    "pipeline_reservoir_topk",
    "w_concurrency_sweep",
    # round-2 wave 3: behavior analytics, sketching, retrieval, packing
    "w_funnel_conversion",
    "sketch_cms_heavyhitters",
    "text_bm25_topk",
    "pipeline_pack_sequences",
    "a_pareto_abc",
    # round-3 additions: semantic dedup, query-table ANN, BPE encode,
    # lossless prefix-filter join, lead-lag correlation
    "dedup_semantic",
    "sim_topk_numpy",
    "pipeline_bpe_encode",
    "dedup_prefix_filter_join",
    "ts_cross_correlation",
    # round-4 additions: the iterative family — regressions in the
    # expensive loops (power iteration, label propagation, BPE merge
    # learning) must be visible per-round, not just in SCALING.md
    "graph_pagerank",
    "graph_personalized_pagerank",
    "graph_kcore",
    "graph_triangle_count",
    "dedup_connected_components",
    "pipeline_bpe_merges",
    # round-4 second wave: domain capping + the oracle-exact ANN
    # compression tier
    "pipeline_source_cap",
    "sim_sq8_topk",
    # round-4 third wave: basket self-join mining + event-sequence
    # transition matrix (the per-user lag-window family)
    "a_basket_pairs",
    "w_markov_transitions",
    # round-5 additions: the EP1 flagship ETL composition (staged-file
    # fixtures, so its cost is plan overhead + the window/pivot chain)
    # and the iteratively-reweighted robust decomposition
    "pipeline_weather_e2e",
    "m7_stl_robust",
    # round-5 second wave: multi-seasonal decomposition, the streaming
    # flagship twin, theta forecaster, graph assortativity, watermark
    # screening, MMR rerank, span corruption, TWAP
    "m7_mstl",
    "stream_w18_disaggregation",
    "m29_theta_forecast",
    "graph_assortativity",
    "text_watermark_detect",
    "sim_mmr_rerank",
    "pipeline_span_corruption",
    "w_time_weighted_avg",
    # round-5 fourth wave: a second iterative-graph entry (synchronous
    # LPA), the exact-PAV calibration (bounded B^2 interval expansion),
    # the multimodal perceptual-hash grouping, and the two new
    # gaps-and-islands window shapes
    "graph_label_propagation",
    "m32_isotonic_calibration",
    "mm_phash_dedup",
    "w_streak_islands",
    "w_interval_merge",
    # round-5 fifth wave: per-node triangle credit (the heaviest new
    # plan) and the LOO encode's fact-side broadcast join
    "graph_local_clustering",
    "m34_target_encoding",
    # round-5 seventh wave: the second tokenizer family end-to-end
    # (hard-EM fit + Viterbi encode) and the growth-accounting state
    # machine
    "pipeline_unigram_encode",
    "w_lifecycle_states",
    # round-6: DSIR importance weighting (the new corpus-scale scoring
    # pass) and the FIM re-serialization (the row-local transform pass)
    "pipeline_dsir_weights",
    "pipeline_fim_transform",
    "scale_hilbert_layout",
    # round-7: temperature mixture plan+realization and the CCNet-style
    # LM-score bucket split (two corpus passes each)
    "pipeline_temperature_mixture",
    "pipeline_lm_buckets",
    "text_gopher_rules",
    "pipeline_ul2_mix",
    # round-9: the un-exempted in-plan fit family — each was an eager
    # driver-side fit/collect until r9; per-round visibility keeps the
    # lazy rewrites honest on wall-clock, not just purity
    "m6_silhouette",
    "m3_pca_eval",
    "emb_whitening_eval",
    "w_markov_attribution",
    "ts_changepoint",
    # round-10: the lazified quantized-ANN tiers (session-shared lazy
    # fit frames) — per-round visibility on the warm-path walls the
    # shared_persist accounting is supposed to hold
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_opq_topk",
    "sim_ivfpq_topk",
    "sim_sq8_ivf_topk",
    # round-10 late wave: multi-probe LSH (query-side fan-out, one
    # corpus signature), the JL sparse-sign projection (row-local
    # folds), and the zero-shuffle token-entropy panel
    "sim_multiprobe_lsh",
    "emb_jl_projection",
    "text_token_entropy",
    "text_source_divergence",
]


# The 30 scale-critical queries measured at the SYNTHESIZED sf1 decade
# (tools/scaling_probe.py::_gen_sf1 — same family rules as the driver
# testdata, 10x sf0.1) when bench.py runs with --sf1: the iterative
# graph family, the dedup candidate-generation family, and the
# distributed rank / prefix-sum / pair-explode family — the shapes
# whose 100x behavior the design claims hinge on (round-7 item 2;
# widened to the remaining shuffle-heavy families in round 8 item 4).
SF1_HEADLINE = [
    "graph_pagerank",
    "graph_personalized_pagerank",
    "graph_label_propagation",
    "graph_triangle_count",
    "graph_kcore",
    "dedup_connected_components",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "dedup_prefix_filter_join",
    "dedup_source_overlap",
    "dedup_winnow",
    "pipeline_pack_sequences",
    "pipeline_epoch_shuffle",
    "pipeline_curriculum_order",
    "a_basket_pairs",
    # round-7 second wave: similarity + text + scoring families at sf1
    "sim_knn_graph",
    "sim_topk_bruteforce",
    "dedup_embedding_cosine",
    "text_lm_familiarity",
    "pipeline_dsir_weights",
    # round-8 third wave (verdict item 4): the remaining shuffle-heavy
    # families — substring dedup's suffix machinery, vocabulary-growth
    # scan, rolling-distinct fan-out, funnel windows, CF pair explode,
    # exact-order-statistic LM buckets, triple explode, per-node
    # clustering joins, BM25 scoring, and the two-pass global rank
    # (events synthesized ×10 in _gen_sf1 for the two events-table
    # entries).
    "pipeline_substring_dedup",
    "text_heaps_law",
    "w_rolling_mau",
    "w_funnel_conversion",
    "a_item_item_cf",
    "pipeline_lm_buckets",
    "a_basket_triples",
    "graph_local_clustering",
    "text_bm25_topk",
    "w3_time_sort_rank",
]


def main() -> None:
    sf1_mode = "--sf1" in sys.argv[1:]
    if sf1_mode:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from scaling_probe import SF1_DIR, _gen_sf1

        _gen_sf1()
        sf_dir = SF1_DIR
        headline = SF1_HEADLINE
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        headline = HEADLINE
    from energy_consumption_forecasting_spark import get_spark
    from energy_consumption_forecasting_spark.queries import load_all

    spark = get_spark("bench")
    qs, _ = load_all()

    # Warm up the JVM, codegen compiler, and parquet footers at the
    # smallest SF so the first measured query isn't charged for JIT:
    # one decimal aggregation + one window + one broadcast join compile
    # the code paths the headliners use.
    warm_sf = "/root/testdata/sf0.001"
    for wq in (
        "tpch_q1_pricing_summary",
        "w18_disaggregation",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "a_basket_pairs",
        # the two-pass distributed rank/prefix-sum family compiles a
        # wide codegen stage; warming it keeps the measured number the
        # operator's cost, not the JIT's (measured 1.9s cold vs 1.0s
        # warm at sf0.1)
        "pipeline_pack_sequences",
        # the iterative graph family (per-round join+agg codegen) is
        # ~50% JIT-cold: pagerank measured 9.1s cold vs 4.8s after an
        # sf0.001 warm pass — same rule as the rank family above
        "graph_pagerank",
        "dedup_connected_components",
        "graph_label_propagation",
    ):
        qs[wq](spark, warm_sf).write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # Ambient noise on this box is ±15% (ROUND_LOG); a single sample
    # per query cannot distinguish a regression from a scheduling
    # hiccup.  Run every headliner REPS times round-robin (whole-list
    # passes, so cache/JIT state is comparable across reps) and report
    # the per-query MEDIAN plus the observed [min, max] spread —
    # tools/bench_diff.py flags a regression only when the new median
    # is outside the old spread by the ratio.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in headline}
    loadavg: list[float] = []
    jvm_gc = spark.sparkContext._jvm.System.gc
    for _ in range(reps):
        # Collect the PREVIOUS pass's garbage before measuring: the
        # localCheckpoint blocks of ~70 queries free only after JVM GC
        # (ContextCleaner runs on reference collection), and the
        # accumulated blocks were measured DOUBLING the barrier-heavy
        # iterative queries' wall-clock by rep 2-3 (pagerank 7.5s
        # dirty vs 3.1s right after System.gc()).  The GC pause lands
        # between passes, outside every timed window.
        import gc as _pygc

        _pygc.collect()
        jvm_gc()
        time.sleep(1.0)
        # 1-minute loadavg per pass: the jitter-adjudication telemetry
        # (round-7 item 7) — a 2x swing with loadavg doubled is host
        # noise, the same swing on a quiet host is a real regression.
        loadavg.append(round(os.getloadavg()[0], 2))
        for name in headline:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))

    def median(xs: list[float]) -> float:
        ys = sorted(xs)
        mid = len(ys) // 2
        return ys[mid] if len(ys) % 2 else (ys[mid - 1] + ys[mid]) / 2

    timings = {name: round(median(ts), 3) for name, ts in samples.items()}
    spread = {
        name: [min(ts), max(ts)] for name, ts in samples.items()
    }
    # rep-1 wall per query, first class (r10 verdict item 4): session-
    # shared frames (graph family, ANN fits) build inside the FIRST
    # consumer's first rep, so the median alone under-reports the first
    # consumer and over-credits the others.  "cold" keeps that one-time
    # build visible without changing the median methodology.
    cold = {name: ts[0] for name, ts in samples.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "samples": samples,
                "cold": cold,
                "loadavg_per_pass": loadavg,
                "reps": reps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
