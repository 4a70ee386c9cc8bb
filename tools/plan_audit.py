"""Generate PLANS.md: physical-plan audit of the headline queries.

For each query: join strategies, scan pushdown, exchange count — the
evidence that filters reach the scan and small sides broadcast.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDITED = [
    # NOTE: driver-composed gates (modularity, lsh/ann quality) are
    # deliberately NOT audited: their final frame is a LocalTableScan,
    # so an "audit" would run the full job to explain a constant — the
    # distributed subplans they compose are audited via their
    # building-block queries.  (w_markov_attribution left this club in
    # r9: it is one lazy plan now and audited below.)
    # r9: the un-exempted in-plan fit family + the new pipeline ops —
    # every one is a single lazy plan for the first time this round.
    # r10: sim_ann_recall left the driver-composed club (one lazy
    # left-join aggregate now), and the lazified quantized-ANN tiers +
    # the two new M7/M9 gates are single lazy plans — audited below.
    "sim_ann_recall",
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_opq_topk",
    "sim_ivfpq_topk",
    "sim_sq8_ivf_topk",
    "m7_grouped_eval",
    "m9_forecast_eval",
    "w_markov_attribution",
    "ts_changepoint",
    "m6_silhouette",
    "m3_pca_eval",
    "emb_whitening_eval",
    "text_tokenizer_fertility",
    "pipeline_pack_ffd",
    "pipeline_pack_ffd_eval",
    "m4_factor_eval",
    "m8_wavelet_eval",
    "m9_arima_eval",
    "m11_lstm_forecast",
    "m5_dtw_kmedoids",
    "m5_kshape",
    "a_item_item_cf",
    "graph_personalized_pagerank",
    "dq_key_skew",
    "ds_q1_above_avg_returns",
    "ds_q67_topn_per_category",
    "m27_croston",
    "a_gini_concentration",
    "a_hhi_market",
    "a_abc_xyz",
    "w_kaplan_meier",
    "w_event_trigrams",
    "m26_holt_winters",
    "ts_cusum_chart",
    "a_basket_pairs",
    "a_assoc_rules",
    "w_markov_transitions",
    "s17_xml_roundtrip",
    "f_collation_ci_group",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q6_revenue_change",
    "tpch_q10_returned_revenue",
    "tpch_q4_late_orders",
    "tpch_q14_promo_share",
    "tpch_q18_large_orders",
    "tpch_q19_bracket_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q12_priority_lines",
    "tpch_q13_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_part_suppliers",
    "tpch_q22_dormant_customers",
    "tpch_q17_small_quantity",
    "tpch_q21_sole_late_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q20_dominant_supplier",
    "pipeline_chunk_documents",
    "pipeline_contamination",
    "pipeline_stratified_sample",
    "pipeline_pii_scrub",
    "w_session_window_native",
    "j_interval_attribution",
    "text_rarity_score",
    "text_tfidf_topterm",
    "pipeline_substring_dedup",
    "pipeline_incremental_merge",
    "j_salted_skew_join",
    "emb_centroid_by_label",
    "f_json_extract",
    "rollup_monthly_from_daily",
    "a1_daily_mean",
    "w18_disaggregation",
    "w3_time_sort_rank",
    "j3_asof_ffill_join",
    "w1_bounded_gap_fill",
    "m7_seasonal_decompose",
    "w_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "pipeline_dedup_clean",
    "sim_topk_bruteforce",
    "sim_bucketed_ann",
    "sim_lsh_hyperplane",
    "text_quality_score",
    "mm_payload_stats",
    # round 2
    "m20_holt_smoothing",
    "text_lm_familiarity",
    "text_repetition_score",
    "scale_zorder_layout",
    "ts_anomaly_zscore",
    "profile_documents",
    "geo_geohash_join",
    "pipeline_reservoir_topk",
    "w_concurrency_sweep",
    "w_rolling_median7",
    "w_rolling_corr31",
    "ts_missing_days",
    "pipeline_scd2_merge",
    "dq_expectations",
    "s11_schema_evolution",
    "m21_degree_day_ols",
    "m22_backtest_leaderboard",
    "pipeline_forecast_e2e",
    # round 2, third session
    "w_funnel_conversion",
    "sketch_cms_heavyhitters",
    "graph_triangle_count",
    "text_bm25_topk",
    "f_variant_extract",
    "s13_manifest_skipping",
    "dq_drift_chi2",
    "m23_auc_exact",
    "pipeline_pack_sequences",
    "a_pareto_abc",
    "dedup_winnow",
    "sim_knn_graph",
    "dedup_semantic",
    "sim_topk_numpy",
    "dedup_source_overlap",
    "pipeline_epoch_shuffle",
    "pipeline_weighted_sample",
    "s13_orc_roundtrip",
    "s14_jsonl_ingest",
    "s15_snapshot_diff",
    "stream_minhash_dedup",
    "text_bpe_pairs",
    # round 4: new/reworked plans
    "pipeline_substring_dedup_exact",
    "mm_extract_features",
    "mm_resize",
    "ts_cross_correlation",
    # round 4, second wave
    "pipeline_source_cap",
    "sim_sq8_topk",
    "dedup_prefix_filter_join",
    "a_rollup_time_hierarchy",
    "w_analytic_suite",
    "dedup_containment",
    "j9_lateral_topn",
    "graph_reachability_cte",
    # round 5: EP1 end-to-end compositions + robust decomposition tier
    # (the eval gates — sim_tier_eval, m*_eval, dedup_lsh_quality_hi —
    # are driver-composed LocalTableScans, excluded per the note above;
    # pipeline_balance_e2e is excluded because its W2 backfill is the
    # SANCTIONED calendar-bounded single-series global window over a raw
    # hourly scan — bounded by the calendar, not by an Aggregate, so the
    # unpartitioned-window guard cannot prove it statically)
    "pipeline_weather_e2e",
    "m7_stl_robust",
    "m7_mstl",
    # round-5 second wave (stream_w18_disaggregation is excluded like
    # the other streaming gates: calling it drains a real stream)
    "m29_theta_forecast",
    "graph_assortativity",
    "ds_q88_time_bands",
    "text_watermark_detect",
    "sim_mmr_rerank",
    "pipeline_span_corruption",
    "w_time_weighted_avg",
    "ts_ohlc_bars",
    # round-5 third wave
    "graph_link_prediction",
    "ts_seasonality_strength",
    "ts_peak_detection",
    "a_price_elasticity",
    "mm_audio_rms",
    "ds_q51_cumulative_channels",
    "ds_q35_exists_profile",
    "w_cohort_ltv",
    # round-5 fourth wave
    "w_streak_islands",
    "ts_acf",
    "graph_label_propagation",
    "ds_q47_sales_deviation",
    "ds_q74_yoy_growth",
    "text_hashing_features",
    "m32_isotonic_calibration",
    "mm_phash_dedup",
    "geo_nearest_supplier",
    "w_interval_merge",
    "ts_runs_test",
    # round-5 fifth wave
    "f_pipe_syntax",
    "ds_q36_margin_rank",
    "pipeline_quality_funnel",
    "emb_dim_stats",
    "m33_ks_two_sample",
    "m34_target_encoding",
    "dq_k_anonymity",
    "m35_welch_ttest",
    "ts_pacf",
    "a_new_vs_returning",
    "pipeline_dataset_split_hash",
    "pipeline_contrastive_triplets",
    "graph_local_clustering",
    # round-5 sixth wave
    "sim_filtered_lsh_eval",
    "sketch_hll_union",
    "ts_theil_sen",
    "sim_hard_negatives",
    "pipeline_split_leakage",
    # round-5 seventh wave (pipeline_unigram_encode is excluded: its
    # DataFrame CONSTRUCTION runs the hard-EM collect loop, so an
    # explain-only audit would still pay the training cost)
    "ts_load_duration_curve",
    "ts_peak_to_average",
    "ts_ramp_rates",
    "w_nelson_aalen",
    "pipeline_unigram_candidates",
    "w_lifecycle_states",
    # round-6: DSIR importance weighting (hashed-bigram streams + the
    # 256-row broadcast ratio table)
    "pipeline_dsir_weights",
    "pipeline_fim_transform",
    "pipeline_curriculum_order",
    "pipeline_length_buckets",
    "pipeline_token_budget",
    "scale_hilbert_layout",
    "pipeline_temperature_mixture",
    "pipeline_lm_buckets",
    "text_gopher_rules",
    "pipeline_ul2_mix",
    "w_hopping_window",
    # round-5 post-gate wave
    "w_touch_attribution",
    "m36_kruskal_wallis",
    "m37_spearman",
    "m38_kendall_tau",
    "text_burstiness",
    "f_url_parse",
    "a_price_index",
    "dq_round_number_bias",
    "ts_intermittency_profile",
    "a_revenue_bridge",
    "w_bounce_rate",
    "graph_degree_histogram",
    "text_heaps_law",
    # round-10 late wave: JL projection family, multi-probe LSH +
    # recall gate, and the two zero-/one-shuffle text panels
    "emb_jl_projection",
    "emb_jl_distortion",
    "sim_multiprobe_lsh",
    "sim_multiprobe_recall",
    "sim_jl_rerank_topk",
    "text_token_entropy",
    "text_zipf_slope",
    "text_source_divergence",
    "ts_periodogram",
]


# LogicalRDD covers spark.createDataFrame(...) literal frames (Spark 4
# routes them through parallelize) — this package never puts a real
# data path on an RDD, so an RDD leaf is a driver-bounded literal here.
_BOUNDED_SOURCES = {"Aggregate", "LocalRelation", "OneRowRelation", "LogicalRDD"}


def audit_unpartitioned_windows(df) -> list[str]:
    """Round-4 VERDICT item 9: the repo's discipline is that a
    ``WindowExec`` with NO partition spec may only ride a
    bounded-cardinality frame (an Aggregate — e.g. the per-day /
    per-score tables — or a literal LocalRelation); on a raw table it
    is the single-task scale killer.  This walks the optimized logical
    plan and returns a violation string for every unpartitioned Window
    whose input subtree reaches a leaf without passing through a
    bounded source.  Raw-table rankings must use the two-pass
    distributed rank (operators/ranking.py) instead."""

    # physical counterparts, for recursing into a cached plan: an
    # InMemoryRelation leaf (the round-7 session-shared frames) is
    # bounded iff every path of its CACHED physical plan passes through
    # an aggregate (or ends at a literal scan) — the same rule, one
    # compilation layer down.
    _BOUNDED_PHYSICAL = {
        "HashAggregateExec",
        "SortAggregateExec",
        "ObjectHashAggregateExec",
        "LocalTableScanExec",
    }

    def _rdd_scan_bounded(node) -> bool:
        # r8 advice: a blanket RDDScanExec pass is unsound — a
        # localCheckpoint of a CORPUS-sized frame also compiles to
        # RDDScanExec, and an unpartitioned window over such a cached
        # frame would silently pass.  Accept only RDD leaves that are
        # attributable to DRIVER-LITERAL data: a ParallelCollectionRDD
        # (spark.createDataFrame routes through parallelize in Spark 4)
        # possibly behind map stages whose root is still the literal
        # collection.  Checkpoint RDDs root at the shuffle/scan RDDs of
        # the checkpointed plan, never at a ParallelCollectionRDD.
        try:
            rdd = node.rdd()
            seen = set()
            frontier = [rdd]
            while frontier:
                r = frontier.pop()
                rid = r.id()
                if rid in seen:
                    continue
                seen.add(rid)
                if r.getClass().getSimpleName() == "ParallelCollectionRDD":
                    continue  # literal root — this path is bounded
                deps = r.dependencies()
                n_dep = deps.size()
                if n_dep == 0:
                    return False  # non-literal root (checkpoint block, scan)
                for i in range(n_dep):
                    frontier.append(deps.apply(i).rdd())
            return True
        except Exception:
            return False  # unattributable — treat as unbounded

    def physical_bounded(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls in _BOUNDED_PHYSICAL:
            return True
        if cls == "RDDScanExec":
            return _rdd_scan_bounded(node)
        n = node.children().size()
        if n == 0:
            return False
        return all(physical_bounded(node.children().apply(i)) for i in range(n))

    def subtree_bounded(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls in _BOUNDED_SOURCES:
            return True
        if cls == "InMemoryRelation":
            return physical_bounded(node.cachedPlan())
        n = node.children().size()
        if n == 0:
            return False  # reached a real source leaf unaggregated
        # every branch feeding the window must be bounded (a join of a
        # bounded frame with a raw table is raw-cardinality)
        return all(subtree_bounded(node.children().apply(i)) for i in range(n))

    bad: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "Window" and node.partitionSpec().isEmpty():
            if not subtree_bounded(node.children().apply(0)):
                bad.append(node.simpleString(120))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    from energy_consumption_forecasting_spark import get_spark
    from energy_consumption_forecasting_spark.queries import load_all

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = load_all()

    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{args.sf}`.  For each headline query: join",
        "strategies chosen, filters pushed to the parquet scan, and the",
        "columns actually read (pruning).  Regenerate after plan-affecting",
        "changes.",
        "",
        "| query | broadcast joins | sort-merge joins | pushed filters | read schemas |",
        "|---|---|---|---|---|",
    ]
    details: list[str] = []
    for name in AUDITED:
        df = qs[name](spark, args.sf)
        violations = audit_unpartitioned_windows(df)
        assert not violations, (
            f"{name}: unpartitioned Window over an unbounded frame:\n"
            + "\n".join(violations)
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        bcast = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        # Dedup operators must never degenerate to a cartesian/BNL
        # product — the named 100-TB scale-killer shape.
        if name.startswith("dedup_"):
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNL join"
            assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
        pushed_n = sum(1 for p in pushed if p.strip())
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = sorted(
            {c.split(":")[0] for s in schemas for c in s.split(",") if c}
        )
        lines.append(
            f"| `{name}` | {bcast} | {smj} | {pushed_n} | {len(read_cols)} cols |"
        )
        details.append(f"\n## {name}\n")
        if pushed:
            details.append("Pushed filters:")
            for p in pushed:
                if p.strip():
                    details.append(f"- `{p.strip()[:180]}`")
        details.append(f"Read columns: `{', '.join(read_cols)}`")
    lines.append("")
    lines.extend(details)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
