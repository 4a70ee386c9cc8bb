"""Physical-plan contracts, pinned as tests (PLANS.md is the generated
artifact; these assertions guard the load-bearing plan properties
against optimizer/implementation regressions)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from tests.conftest import SF_SMALL, TOOLS_DIR, pinned_budget, pinned_conf


def _plan(spark, name: str, budget: int | None = None) -> str:
    """explain("formatted") of a query built at SF_SMALL, with the
    broadcast budget pinned to ``budget`` bytes while it is built."""
    from energy_consumption_forecasting_spark.queries import load_all

    qs, _ = load_all()
    pin = contextlib.nullcontext() if budget is None else pinned_budget(spark, budget)
    with pin:
        df = qs[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _lineitem_bytes() -> int:
    """The basket single-task rule's size of SF_SMALL's line table."""
    from energy_consumption_forecasting_spark.tables import (
        footer_row_count,
        table_path,
    )

    return footer_row_count(table_path(SF_SMALL, "lineitem")) * 16


# Queries whose plans must never contain a cartesian/BNL shape: the
# pair-join family (the named 100-TB scale-killer) plus the join-heavy
# relational spine.  Stat-broadcast crossJoins (1-row frames) are NOT
# in this list by design — those are deliberate scalar broadcasts.
NO_BNL = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_prefix_filter_join",
    "dedup_semantic",
    "sim_bucketed_ann",
    "sim_knn_graph",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q8_market_share",
    "pipeline_contamination",
    "j9_lateral_topn",
]


@pytest.mark.parametrize("name", NO_BNL)
def test_no_cartesian_or_bnl(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNL join"


def test_q6_filters_reach_the_scan(spark):
    plan = _plan(spark, "tpch_q6_revenue_change")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    assert any(p.strip() for p in pushed), "no pushed filters on q6 scan"


def test_q1_reads_only_needed_columns(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no ReadSchema in plan — the regex guard went blind"
    # parse field NAMES only (robust to parameterized types like
    # decimal(12,2) whose commas a naive split would break on)
    cols = {m for s in schemas for m in re.findall(r"(?:^|,)(\w+):", s)}
    # the pricing summary needs 7 lineitem columns; reading more means
    # projection pruning broke
    assert 0 < len(cols) <= 7, f"q1 reads {sorted(cols)}"


def test_broadcast_dim_join_stays_broadcast(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_basket_pairs_single_shuffle_no_selfjoin(spark):
    """a_basket_pairs' Spark tier must stay the array-explode shape: the
    only join is the broadcast a-priori prune — any SortMergeJoin means
    the basket self-join crept back (two shuffles of the line table).
    SF_SMALL fits the single-task rule, so the budget is pinned at the
    rule's boundary to build the Spark tier."""
    plan = _plan(spark, "a_basket_pairs", budget=_lineitem_bytes())
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, "basket self-join regressed"
    assert "BroadcastHashJoin" in plan  # the a-priori prune
    assert "Generate" in plan  # the row-local pair explode


@pytest.mark.parametrize(
    "name", ["a_basket_pairs", "a_assoc_rules", "a_item_item_cf"]
)
def test_basket_pairs_single_task_shape(spark, name):
    """Below the broadcast budget the pair count is ONE task: the
    (l_orderkey, l_partkey) scan coalesced to one partition feeding one
    MapInPandas, and no sort-merge join anywhere.  a_basket_pairs has no
    join at all; the rule queries keep their item-count broadcasts and
    a_assoc_rules its 1-row total cross join."""
    plan = _plan(spark, name, budget=_lineitem_bytes() + 1)
    assert plan.count("MapInPandas (") == 1
    assert re.search(r"MapInPandas \(\d+\)\n[\s:]*\+- Coalesce \(\d+\)", plan)
    assert re.search(
        r"\(\d+\) Coalesce\nInput \[2\]: \[l_orderkey#\d+L, l_partkey#\d+L\]"
        r"\nArguments: 1\n",
        plan,
    )
    assert "SortMergeJoin" not in plan, "basket self-join regressed"
    if name == "a_basket_pairs":
        assert "Join" not in plan
        assert "CartesianProduct" not in plan


def test_source_cap_topk_partial_group_limit_below_one_exchange(spark):
    """The per-source top-k of pipeline_source_cap and of the stream
    fold's batch delta is one window over one exchange, with the
    planner's partial group limit below it: each map task ships at most
    cap rows per source, so a mega-domain cannot flood one reducer."""
    from energy_consumption_forecasting_spark.queries import load_all
    from energy_consumption_forecasting_spark.queries.pipeline_ops import SOURCE_CAP
    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        _batch_topk,
    )

    qs, _ = load_all()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    partial = re.compile(
        r"Exchange hashpartitioning\(source#\d+, \d+\)[^\n]*\n"
        r"\s*\+- WindowGroupLimit \[source#\d+\], \[k#\d+ ASC NULLS FIRST\], "
        rf"row_number\(\), {SOURCE_CAP}, Partial\n"
    )
    for df in (qs["pipeline_source_cap"](spark, SF_SMALL), _batch_topk(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange ") == 1, plan
        assert partial.search(plan), plan


def test_markov_window_partitions_by_user(spark):
    """The lag window must partition by user_id — a global (empty
    partition-by) window here would serialize the whole event table
    through one task."""
    plan = _plan(spark, "w_markov_transitions")
    assert re.search(r"partitionBy=\[user_id", plan) or re.search(
        r"\[user_id[^\]]*\], \[ts", plan
    ), "lag window lost its user_id partitioning"


def test_unpartitioned_window_guard(spark):
    """The plan-audit invariant: an unpartitioned Window is flagged on a
    raw table, tolerated above an Aggregate or a literal frame."""
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    raw = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    bad = raw.select(
        "l_orderkey", F.row_number().over(Window.orderBy("l_shipdate")).alias("rn")
    )
    assert audit_unpartitioned_windows(bad), "raw-table global window not flagged"

    agg = raw.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    good = agg.select(
        "l_returnflag", F.row_number().over(Window.orderBy("s")).alias("rn")
    )
    assert audit_unpartitioned_windows(good) == []

    lit = spark.createDataFrame([(1,), (2,)], "x int")
    good2 = lit.select("x", F.row_number().over(Window.orderBy("x")).alias("rn"))
    assert audit_unpartitioned_windows(good2) == []

    partitioned = raw.select(
        "l_orderkey",
        F.row_number()
        .over(Window.partitionBy("l_returnflag").orderBy("l_shipdate"))
        .alias("rn"),
    )
    assert audit_unpartitioned_windows(partitioned) == []


def test_unpartitioned_window_guard_rdd_leaf_attribution(spark):
    """r8 advice: inside a cached plan, an RDDScanExec leaf is bounded
    only when attributable to DRIVER-LITERAL data (ParallelCollectionRDD
    root).  A localCheckpoint of a corpus-sized frame also compiles to
    RDDScanExec — the audit must NOT silently pass an unpartitioned
    window over it."""
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy("x")

    lit = spark.createDataFrame([(i,) for i in range(5)], "x int").persist()
    try:
        lit.count()  # materialize the cache so the audit sees its plan
        assert (
            audit_unpartitioned_windows(
                lit.withColumn("rn", F.row_number().over(w))
            )
            == []
        )
    finally:
        lit.unpersist()

    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.col("l_orderkey").alias("x"))
        .localCheckpoint()
        .persist()
    )
    try:
        corpus.count()
        flagged = audit_unpartitioned_windows(
            corpus.withColumn("rn", F.row_number().over(w))
        )
        assert flagged, "checkpointed-corpus global window not flagged"
    finally:
        corpus.unpersist()


def test_calendar_bounded_window_contract_all_queries(spark):
    """r9 VERDICT item 5: the unpartitioned-window queries
    (w8_sequence_windows, j3_asof_ffill_join, w2_unbounded_fill and
    kin) are safe ONLY because their window input is a calendar-bounded
    aggregate (<= #days rows).  Nothing but this test enforces that a
    future edit doesn't hand them a corpus-sized frame: it runs the
    plan-audit invariant (unpartitioned Window must sit above an
    Aggregate / literal / attributably-bounded cache) over EVERY
    registered query whose construction is pure — the same audit
    tools/plan_audit.py applies to the AUDITED subset at PLANS.md
    regeneration time, promoted to CI for the full registry.  Repoint
    any of these windows at a raw fact table and this fails."""
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from energy_consumption_forecasting_spark.queries import load_all
    from tests.test_construction_purity import EXEMPT

    qs, _ = load_all()
    # the verdict-named queries must be in scope (pure construction)
    for must in ("w8_sequence_windows", "j3_asof_ffill_join",
                 "w2_unbounded_fill", "w9_lag_features",
                 "w11_rolling_mean"):
        assert must in qs and must not in EXEMPT, must
    offenders: dict[str, list[str]] = {}
    for name in sorted(qs):
        if name in EXEMPT:
            continue  # construction launches jobs (drains/fits) by contract
        v = audit_unpartitioned_windows(qs[name](spark, SF_SMALL))
        if v:
            offenders[name] = v
    assert not offenders, (
        "unpartitioned Window over an unbounded frame (calendar-bounded "
        f"window contract broken): {offenders}"
    )


# --- scan spread decision (tbl(..., spread=...)) -------------------------------
#
# The spread exists ONLY because the testdata parquet is a single row
# group, which Spark reads on one task: at 100 TB the source has many
# row groups and the repartition would be a full extra exchange of the
# fact table.  These tests pin both sides of the row-group rule and the
# inputs the rule must not misread.

_SPREAD_RE = re.compile(r"hashpartitioning\(doc_id#\d+L?, (\d+)\), REPARTITION_BY_NUM")


def _spread_widths(df) -> list[int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [int(n) for n in _SPREAD_RE.findall(buf.getvalue())]


def _write_docs(path: str, n_rows: int, row_group_size: int, text_bytes: int = 8):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array(range(n_rows), pa.int64()),
            "text": [f"{i:0{text_bytes}d}" for i in range(n_rows)],
        }
    )
    pq.write_table(table, path, row_group_size=row_group_size, compression="none")


def test_tbl_spread_kept_on_single_row_group(spark):
    from energy_consumption_forecasting_spark.queries._util import tbl

    target = spark.sparkContext.defaultParallelism
    docs = tbl(spark, SF_SMALL, "documents", spread="doc_id")
    assert _spread_widths(docs) == [target]
    assert _spread_widths(tbl(spark, SF_SMALL, "documents")) == []


def test_tbl_spread_skipped_on_many_row_groups(spark, tmp_path):
    from energy_consumption_forecasting_spark.queries._util import tbl

    target = spark.sparkContext.defaultParallelism
    _write_docs(str(tmp_path / "documents.parquet"), 2 * target, 2)
    docs = tbl(spark, str(tmp_path), "documents", spread="doc_id")
    assert _spread_widths(docs) == []


def test_tbl_spread_skipped_on_many_files(spark, tmp_path):
    from energy_consumption_forecasting_spark.queries._util import tbl

    target = spark.sparkContext.defaultParallelism
    table_dir = tmp_path / "documents.parquet"
    table_dir.mkdir()
    (table_dir / "_SUCCESS").write_text("")
    for i in range(target):
        _write_docs(str(table_dir / f"part-{i:05d}.parquet"), 4, 4)
    docs = tbl(spark, str(tmp_path), "documents", spread="doc_id")
    assert _spread_widths(docs) == []


def test_footer_row_count_sums_part_files_and_skips_unprobeable(tmp_path):
    """The row count the basket tier rule reads comes from the same
    footer probe as the spread: flat local part files are summed, and
    nested, remote or missing paths give None."""
    from energy_consumption_forecasting_spark.tables import footer_row_count

    table_dir = tmp_path / "documents.parquet"
    table_dir.mkdir()
    (table_dir / "_SUCCESS").write_text("")
    for i in range(3):
        _write_docs(str(table_dir / f"part-{i:05d}.parquet"), 5 + i, 2)
    assert footer_row_count(str(table_dir)) == 18
    assert footer_row_count(f"file://{table_dir}") == 18
    (table_dir / "nested").mkdir()
    assert footer_row_count(str(table_dir)) is None
    assert footer_row_count("s3a://bucket/sf1/lineitem.parquet") is None
    assert footer_row_count(str(tmp_path / "missing.parquet")) is None


def test_tbl_spread_skipped_on_remote_path_without_local_io(spark, monkeypatch):
    import os

    import pyarrow.parquet as pq

    from energy_consumption_forecasting_spark.queries import _util

    local = _util.tbl(spark, SF_SMALL, "documents")
    monkeypatch.setattr(_util, "load_table", lambda *_: local)

    def no_io(*_a, **_k):
        raise AssertionError("remote path touched the local filesystem")

    with monkeypatch.context() as m:
        for mod, name in (
            (os, "listdir"),
            (os.path, "isdir"),
            (os.path, "isfile"),
            (pq, "read_metadata"),
        ):
            m.setattr(mod, name, no_io)
        docs = _util.tbl(spark, "s3a://bucket/sf1", "documents", spread="doc_id")
    assert _spread_widths(docs) == []


def test_tbl_spread_kept_on_row_group_larger_than_split(spark, tmp_path):
    """Spark cuts one big row group into many byte-range splits, but
    only the split holding its midpoint reads rows: the scan is still
    one task of work, so the spread stays."""
    from energy_consumption_forecasting_spark.queries._util import tbl
    from energy_consumption_forecasting_spark.tables import load_table

    target = spark.sparkContext.defaultParallelism
    _write_docs(str(tmp_path / "documents.parquet"), 64, 64, text_bytes=16 << 10)
    with pinned_conf(spark, "spark.sql.files.maxPartitionBytes", "16k"):
        raw = load_table(spark, str(tmp_path), "documents")
        assert raw.rdd.getNumPartitions() >= target
        docs = tbl(spark, str(tmp_path), "documents", spread="doc_id")
        assert _spread_widths(docs) == [target]


def test_tbl_loads_with_spark_size_string_conf(spark):
    from energy_consumption_forecasting_spark.queries._util import tbl

    with pinned_conf(spark, "spark.sql.files.maxPartitionBytes", "128mb"):
        docs = tbl(spark, SF_SMALL, "documents", spread="doc_id")
        assert docs.count() > 0
    assert _spread_widths(docs) == [spark.sparkContext.defaultParallelism]


def test_q1_filter_pushes_below_fanout_exchange(spark):
    """tpch_q1's shipdate filter sits AFTER the gated fanout in source
    order (the fanout must wrap the scan frame to see the gate tag);
    Catalyst must still push it into the scan."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    assert any("l_shipdate" in p for p in pushed), (
        "shipdate filter no longer reaches the scan:\n" + plan
    )
