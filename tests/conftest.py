from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

# the checkout this conftest belongs to, wherever it is
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS_DIR = os.path.join(REPO, "tools")
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from energy_consumption_forecasting_spark import get_spark

    s = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@contextmanager
def pinned_conf(spark, key: str, value: str):
    """Run the block with session conf ``key`` set to ``value``,
    restoring the session value after."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def pinned_budget(spark, budget: int):
    """``pinned_conf`` for the broadcast budget, in bytes.  Tier rules
    read the budget while the plan is built, so build the frame inside
    the block and run it after."""
    return pinned_conf(spark, "spark.sql.autoBroadcastJoinThreshold", str(budget))


def lines_frame(spark, rows):
    """(l_orderkey, l_partkey) long lines, None for null, as a local
    relation: built from pandas through Arrow, so unlike a frame from a
    Python list it needs no Python worker per partition to scan."""
    import pandas as pd

    if not rows:  # an empty pandas frame takes the slow path
        return spark.range(0).selectExpr("id AS l_orderkey", "id AS l_partkey")
    cols = ("l_orderkey", "l_partkey")
    pdf = pd.DataFrame(
        {c: pd.array([r[i] for r in rows], dtype="Int64") for i, c in enumerate(cols)}
    )
    return spark.createDataFrame(pdf, "l_orderkey long, l_partkey long")


def pair_counts_both_tiers(spark, lines, n_lines: int, **kw):
    """``basket.pair_counts_from_lines(lines, n_lines=n_lines, **kw)``
    built twice: under a budget one byte inside the single-task rule,
    then exactly at its boundary (the Spark tier).  Returns the two
    frames in that order, after checking each took its tier."""
    from energy_consumption_forecasting_spark.queries.basket import (
        pair_counts_from_lines,
    )

    frames = []
    for budget in (n_lines * 16 + 1, n_lines * 16):
        with pinned_budget(spark, budget):
            frames.append(pair_counts_from_lines(lines, n_lines=n_lines, **kw))
    tiers = [
        "MapInPandas" in df._jdf.queryExecution().analyzed().toString()
        for df in frames
    ]
    assert tiers == [True, False]
    return frames


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    return con


# --- slow-test registry (r11 verdict item 2) ----------------------------------
#
# The driver's verify step runs `pytest tests/` with a timeout shorter
# than the full ~29-minute suite (VERIFY_r10: clean tail truncated at
# ~92%, tests_ok=false with zero failures).  pytest.ini therefore
# deselects `slow` by default; the node ids below (every test whose
# call+setup totalled >= 4 s in the committed full-run duration audit,
# 81 tests / ~20 of the 29 minutes) get the marker here, keeping a
# <10-minute default profile.  FULL suite: `pytest tests/ -m ""`
# (CI / round-end).  A stale id (renamed test) would be silently
# unmatched, so tests/test_slow_registry.py fails on any entry whose
# file::function does not exist.
SLOW_NODE_IDS = {
    "tests/test_anomaly_stream.py::test_split_batches_converge_to_full_result",
    "tests/test_api_facade.py::test_blocking_split_matches_reference_shape",
    "tests/test_api_facade.py::test_etl_weather_chain",
    "tests/test_components.py::test_cc_chain_and_singletons",
    "tests/test_components.py::test_cc_long_path_converges",
    "tests/test_components.py::test_connected_components_string_ids",
    "tests/test_components.py::test_kcore_peel_matches_python_reference",
    "tests/test_construction_purity.py::test_non_exempt_constructions_launch_zero_jobs",
    "tests/test_cusum_stream.py::test_cusum_days_seal_midstream",
    "tests/test_cusum_stream.py::test_cusum_multibatch_equals_batch",
    "tests/test_enrich_stream.py::test_enrich_split_drain_equals_batch",
    "tests/test_failure_injection.py::test_jsonl_stream_sink_crash_during_promote",
    "tests/test_markov_stream.py::test_multibatch_equals_batch",
    "tests/test_markov_stream.py::test_watermark_seals_midstream_and_tail_is_partial",
    "tests/test_minhash_stream.py::test_stream_cms_matches_batch",
    "tests/test_minhash_stream.py::test_stream_drain_equals_batch_banding",
    "tests/test_ml_extras.py::test_arima_exact_mle_goldens",
    "tests/test_ml_extras.py::test_dtw_external_golden",
    "tests/test_ml_extras.py::test_sbd_properties_and_kshape_recovery",
    "tests/test_ohlc_stream.py::test_available_now_leaves_no_checkpoint_or_view",
    "tests/test_ohlc_stream.py::test_multibatch_equals_batch",
    "tests/test_pagerank.py::test_power_iterate_shuffled_hash_tier_matches_broadcast",
    "tests/test_parity.py::test_oracle_parity[graph_modularity]",
    "tests/test_parity.py::test_oracle_parity[m10_gbt_eval]",
    "tests/test_parity.py::test_oracle_parity[m15_shap_eval]",
    "tests/test_parity.py::test_oracle_parity[m5_cluster_eval]",
    "tests/test_parity.py::test_oracle_parity[m9_arima_eval]",
    "tests/test_parity.py::test_oracle_parity[sim_multiprobe_recall]",
    "tests/test_parity.py::test_oracle_parity[sim_tier_eval]",
    "tests/test_parity.py::test_oracle_parity[stream_abandoned_views]",
    "tests/test_parity.py::test_oracle_parity[stream_cms_heavyhitters]",
    "tests/test_parity.py::test_oracle_parity[stream_interval_attribution]",
    "tests/test_parity.py::test_oracle_parity[stream_ohlc_bars]",
    "tests/test_parity.py::test_oracle_parity[w_markov_attribution]",
    "tests/test_parity.py::test_rows_only_queries_run[m10_gbt_forecast]",
    "tests/test_parity.py::test_rows_only_queries_run[m13_bayesopt_gbt]",
    "tests/test_parity.py::test_rows_only_queries_run[m15_kernel_shap]",
    "tests/test_parity.py::test_rows_only_queries_run[m15_shap_gbt]",
    "tests/test_parity.py::test_rows_only_queries_run[m9_arima_full]",
    "tests/test_parity.py::test_rows_only_queries_run[sim_opq_topk]",
    "tests/test_pipeline_ops.py::test_substring_dedup_exact_spans",
    "tests/test_plan_contracts.py::test_calendar_bounded_window_contract_all_queries",
    "tests/test_properties.py::test_basket_pair_explode_property",
    "tests/test_properties.py::test_basket_pair_count_tiers_property",
    "tests/test_properties.py::test_bounded_gap_fill_property",
    "tests/test_properties.py::test_bpe_merge_fold_tiers_agree",
    "tests/test_properties.py::test_bucket_rank_matches_range_rank",
    "tests/test_properties.py::test_exact_avg_property",
    "tests/test_properties.py::test_global_prefix_sum_property",
    "tests/test_properties.py::test_global_row_number_lazy_property",
    "tests/test_properties.py::test_interval_merge_matches_reference",
    "tests/test_properties.py::test_ks_statistic_matches_reference",
    "tests/test_properties.py::test_ngram_jaccard_property",
    "tests/test_properties.py::test_ntile_expr_property",
    "tests/test_properties.py::test_pipelined_pairs_property",
    "tests/test_properties.py::test_sessionize_property",
    "tests/test_properties.py::test_source_cap_semilattice_fold",
    "tests/test_properties.py::test_streak_islands_matches_reference",
    "tests/test_properties.py::test_theil_sen_matches_reference",
    "tests/test_properties.py::test_two_pass_rank_property",
    "tests/test_scale_ops.py::test_bucket_pair_scores_match_join_distinct_reference",
    "tests/test_scale_ops.py::test_cos_band_rows_500k_planted_twin_recall",
    "tests/test_scale_ops.py::test_cos_band_rows_adaptive_bits_recall",
    "tests/test_scale_ops.py::test_mega_basket_pairs_lossless_and_bounded",
    "tests/test_scale_ops.py::test_minhash_mega_cluster_end_to_end",
    "tests/test_sources_and_extensions.py::test_attribution_stream_equals_batch",
    "tests/test_sources_and_extensions.py::test_stream_abandoned_views_matches_batch_cutoff",
    "tests/test_upsert_stream.py::test_multibatch_cdc_equals_batch_latest",
    "tests/test_versioned_sink.py::test_deletion_vectors_randomized_predicate_sequence",
    "tests/test_versioned_sink.py::test_deletion_vectors_vacuum_shares_base_dir",
    "tests/test_versioned_sink.py::test_merge_upsert_rejects_duplicate_update_keys",
    "tests/test_versioned_sink.py::test_merge_upsert_update_insert_chain",
}


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    for item in items:
        if item.nodeid in SLOW_NODE_IDS:
            item.add_marker(_pytest.mark.slow)
