"""Round-2 operators: Holt smoothing, LM familiarity, z-order layout,
rolling z-score anomaly, table profiling."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from energy_consumption_forecasting_spark.queries.layout import (
    BUCKET_SHIFT,
    morton_code,
    scale_zorder_layout,
)
from energy_consumption_forecasting_spark.queries.lm import text_lm_familiarity
from energy_consumption_forecasting_spark.queries.quality import (
    profile_documents,
    ts_anomaly_zscore,
)
from energy_consumption_forecasting_spark.queries.smoothing import (
    holt_smooth,
    m20_holt_smoothing,
)

SF_SMALL = "/root/testdata/sf0.001"


# --- Holt smoothing -----------------------------------------------------------------
def test_holt_recursion_hand_computed():
    pdf = pd.DataFrame(
        {
            "priority": ["P"] * 4,
            "month": pd.to_datetime(["2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01"]),
            "demand": [10.0, 14.0, 12.0, 20.0],
        }
    )
    out = holt_smooth(pdf)
    # l1=10, b1=4; t2: fitted=14, l=.5*14+.5*14=14, b=.25*4+.75*4=4
    # t3: fitted=18, l=.5*12+.5*18=15, b=.25*1+.75*4=3.25
    # t4: fitted=18.25, l=.5*20+.5*18.25=19.125, b=.25*4.125+.75*3.25=3.46875
    assert out["level"].tolist() == [10.0, 14.0, 15.0, 19.125]
    assert out["trend"].tolist() == [4.0, 4.0, 3.25, 3.46875]
    assert math.isnan(out["fitted"][0])
    assert out["fitted"].tolist()[1:] == [14.0, 18.0, 18.25]


def test_holt_singleton_series():
    pdf = pd.DataFrame(
        {"priority": ["P"], "month": pd.to_datetime(["2020-01-01"]), "demand": [7.0]}
    )
    out = holt_smooth(pdf)
    assert out["level"].tolist() == [7.0] and out["trend"].tolist() == [0.0]


def test_holt_sae_singleton_series_emits_no_row():
    """Round-4 ADVICE pin: a one-month series has no one-step-ahead fit,
    so the backtest map must emit NO row (the oracle's recursive CTE
    drops it via WHERE hw.t > 1) — not a (sae=0, n_fit=0) row that
    becomes a NULL-mae 0/0 leaderboard entry."""
    from energy_consumption_forecasting_spark.queries.smoothing import _holt_sae

    pdf = pd.DataFrame(
        {"priority": ["P"], "month": pd.to_datetime(["2020-01-01"]), "demand": [7.0]}
    )
    out = _holt_sae(pdf)
    assert len(out) == 0
    assert list(out.columns) == ["priority", "sae", "n_fit"]
    # two-point series still fits exactly one step
    pdf2 = pd.DataFrame(
        {
            "priority": ["P", "P"],
            "month": pd.to_datetime(["2020-01-01", "2020-02-01"]),
            "demand": [7.0, 9.0],
        }
    )
    out2 = _holt_sae(pdf2)
    assert out2["n_fit"].tolist() == [1]


def test_holt_gate_one_fitted_gap_per_series(spark):
    out = m20_holt_smoothing(spark, SF_SMALL).collect()
    by_prio: dict[str, list] = {}
    for r in out:
        by_prio.setdefault(r.priority, []).append(r)
    assert len(by_prio) >= 2
    for rows in by_prio.values():
        rows.sort(key=lambda r: r.month)
        assert rows[0].fitted is None
        assert all(r.fitted is not None for r in rows[1:])


# --- LM familiarity -----------------------------------------------------------------
def test_lm_familiarity_bounds(spark):
    out = {r.doc_id: r for r in text_lm_familiarity(spark, SF_SMALL).collect()}
    assert out  # docs with >=2 tokens exist
    for r in out.values():
        assert r.n_bigrams >= 1
        assert 0.0 < r.familiarity  # bigram counts are positive
        assert 0.0 <= r.novel_frac <= 1.0


# --- z-order ------------------------------------------------------------------------
def test_morton_code_known_values(spark):
    import pyspark.sql.functions as F

    df = spark.range(1).select(
        morton_code(F.lit(3), F.lit(5)).alias("a"),
        morton_code(F.lit(0), F.lit(0)).alias("b"),
        morton_code(F.lit(1023), F.lit(1023)).alias("c"),
    )
    r = df.collect()[0]
    # x=0b011 (even positions), y=0b101 (odd): 1 + 2 + 4 + 32 = 39
    assert r.a == 39
    assert r.b == 0
    assert r.c == (1 << 20) - 1


def test_zorder_bucket_bbox_bounded(spark):
    out = scale_zorder_layout(spark, SF_SMALL).collect()
    side = 1 << (BUCKET_SHIFT // 2)  # low bits per dim within a bucket
    for r in out:
        assert r.x_max - r.x_min + 1 <= side
        assert r.y_max - r.y_min + 1 <= side
        assert r.bbox_area <= side * side


# --- anomaly z-score ----------------------------------------------------------------
def test_zscore_matches_numpy(spark):
    import numpy as np

    rows = ts_anomaly_zscore(spark, SF_SMALL).collect()
    assert rows
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr("CAST(o_orderdate AS DATE) AS d", "o_totalprice")
        .groupBy("d")
        .agg({"o_totalprice": "sum"})
        .collect()
    )
    series = {r.d: r["sum(o_totalprice)"] for r in daily}
    ds = sorted(series)
    vals = np.array([series[d] for d in ds])
    idx = {d: i for i, d in enumerate(ds)}
    checked = 0
    for r in rows[:50]:
        i = idx[r.d]
        w = vals[i - 15 : i + 16]
        if len(w) != 31:
            continue
        z = (vals[i] - w.mean()) / w.std()
        assert r.z == pytest.approx(z, rel=1e-6, abs=1e-6)
        checked += 1
    assert checked > 10


# --- profiling ----------------------------------------------------------------------
def test_profile_shape_and_counts(spark):
    out = {r.col_name: r for r in profile_documents(spark, SF_SMALL).collect()}
    n = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert set(out) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert all(r.n_rows == n for r in out.values())
    assert out["doc_id"].n_distinct == n
    assert out["doc_id"].n_null == 0
    assert len(out["text"].min_val) <= 32


# --- S7 partitioned sink + geohash join ---------------------------------------------
def test_s7_readback_plan_prunes_partitions(spark):
    from energy_consumption_forecasting_spark.queries.sinks_gate import (
        s7_partitioned_sink_roundtrip,
    )

    df = s7_partitioned_sink_roundtrip(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    # only en/de directories survive pruning
    assert set(r.lang for r in df.select("lang").distinct().collect()) <= {"en", "de"}


def _py_geohash(key: int) -> str:
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    latq = (key * 7919) % 18000
    lonq = (key * 104729) % 36000
    lat15 = latq * 32768 // 18000
    lon15 = lonq * 32768 // 36000
    code = 0
    for i in range(15):
        code += ((lon15 >> (14 - i)) & 1) << (29 - 2 * i)
        code += ((lat15 >> (14 - i)) & 1) << (28 - 2 * i)
    return "".join(b32[(code >> (25 - 5 * k)) & 31] for k in range(6))


def test_geohash_matches_independent_python(spark):
    from energy_consumption_forecasting_spark.queries.geo import (
        _LAT_SQL,
        _LON_SQL,
        _SPARK,
        geohash_sql,
    )

    keys = [1, 7, 42, 1023, 99991]
    gh = geohash_sql(_LAT_SQL.format(k="id"), _LON_SQL.format(k="id"), _SPARK)
    df = spark.createDataFrame([(k,) for k in keys], "id long").selectExpr(
        "id", f"{gh} AS h"
    )
    got = {r.id: r.h for r in df.collect()}
    assert got == {k: _py_geohash(k) for k in keys}


def test_geohash_join_pairs_share_cell(spark):
    from energy_consumption_forecasting_spark.queries.geo import geo_geohash_join

    rows = geo_geohash_join(spark, SF_SMALL).collect()
    for r in rows:
        assert _py_geohash(r.custkey)[:2] == r.cell == _py_geohash(r.suppkey)[:2]
        assert r.d2_q >= 0


# --- AQE skew-join split ------------------------------------------------------------
def test_aqe_splits_skewed_join_partition(spark):
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows on ONE key vs a uniform tail — a textbook hot key
        skewed = spark.range(220_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise(F.col("id") % 2_000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(2_000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = skewed.join(dim, "k")
        # collect() executes THIS QueryExecution, so the final adaptive
        # plan is inspectable afterwards (count() would spawn its own)
        assert len(j.collect()) == 220_000  # every row matches one dim key
        plan = j._jdf.queryExecution().executedPlan().toString()
        # AQE split the hot partition instead of letting one task sort it
        assert "skew=true" in plan and "isFinalPlan=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- exact distributed OLS ----------------------------------------------------------
def test_degree_day_ols_matches_numpy_lstsq(spark):
    import numpy as np

    from energy_consumption_forecasting_spark.queries.ols import (
        m21_degree_day_ols,
    )

    row = m21_degree_day_ols(spark, SF_SMALL).collect()[0]
    # rebuild the same design matrix driver-side
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "CAST(o_orderdate AS DATE) AS d",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc",
        )
        .groupBy("d")
        .sum("yc")
        .collect()
    )
    t10 = lambda doy: 400 - abs(doy * 1000 // 366 - 500)
    X, y = [], []
    for r in daily:
        doy = r.d.timetuple().tm_yday
        t = t10(doy)
        X.append([1.0, max(0, 180 - t), max(0, t - 180)])
        y.append(float(r["sum(yc)"]))
    beta, *_ = np.linalg.lstsq(np.array(X), np.array(y), rcond=None)
    assert row.intercept_c == pytest.approx(beta[0], rel=1e-9)
    assert row.beta_hdd_c == pytest.approx(beta[1], rel=1e-9)
    assert row.beta_cdd_c == pytest.approx(beta[2], rel=1e-9)


def test_ppjoin_fallback_tier_matches_bitmap(spark, monkeypatch):
    """The large-vocabulary set-intersect tier must produce the same
    pairs/scores as the single-long bitmap tier (which the oracle
    pins), so forcing the fallback compares the two directly."""
    from energy_consumption_forecasting_spark.queries import dedup

    bit = dedup.dedup_prefix_filter_join(spark, SF_SMALL).collect()
    monkeypatch.setattr(dedup, "_BITMAP_VOCAB_MAX", -1)
    fb = dedup.dedup_prefix_filter_join(spark, SF_SMALL).collect()
    assert {(r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in bit} == {
        (r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in fb
    }
    assert bit, "no survivor pairs at smoke SF"
