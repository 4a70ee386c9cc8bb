"""ML module tests: scaling queries, CV, metrics, forecasters, clustering, BO."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.ml.bayesopt import _NumpyGP, bayes_opt
from energy_consumption_forecasting_spark.ml.cv import folds, label_folds, label_split
from energy_consumption_forecasting_spark.ml.forecast import (
    _ar_fit_forecast,
    ar_forecast_grouped,
)
from energy_consumption_forecasting_spark.ml.clustering import (
    _dtw,
    dtw_distance_matrix,
    kmedoids_rows,
)
from energy_consumption_forecasting_spark.ml.decomposition import _np_decompose
from energy_consumption_forecasting_spark.queries.ml_queries import (
    m1_minmax_scale,
    m2_standard_scale,
)
from tests.conftest import SF_SMALL, TOOLS_DIR


@pytest.fixture(scope="module")
def series_df(spark):
    rows = [
        (dt.date(2021, 1, 1) + dt.timedelta(days=i), float(10 + i % 7 + 0.1 * i))
        for i in range(90)
    ]
    return spark.createDataFrame(rows, "d date, y double")


def test_minmax_scale(spark):
    out = m1_minmax_scale(spark, SF_SMALL).collect()
    vals = [r["acctbal_mm"] for r in out]
    assert min(vals) == 0.0 and max(vals) == 1.0


def test_standard_scale(spark):
    out = m2_standard_scale(spark, SF_SMALL).collect()
    vals = np.array([r["acctbal_z"] for r in out])
    assert abs(vals.mean()) < 1e-9
    assert abs(vals.std(ddof=1) - 1.0) < 1e-9


def test_blocked_cv_folds(spark, series_df):
    labeled = label_folds(series_df, ["d"])
    counts = {
        (r["fold"], r["role"]): r["n"]
        for r in labeled.groupBy("fold", "role").agg(F.count("*").alias("n")).collect()
    }
    for k in range(1, 6):
        assert counts[(k, "train")] + counts[(k, "val")] == 18
        assert counts[(k, "val")] in (3, 4)
    pairs = list(folds(series_df, ["d"]))
    assert len(pairs) == 5
    tr, va = pairs[0]
    # validation tail strictly after the train block
    assert tr.agg(F.max("d")).first()[0] < va.agg(F.min("d")).first()[0]


def test_train_test_split(spark, series_df):
    labeled = label_split(series_df, ["d"])
    tr = labeled.filter(F.col("split") == "train")
    te = labeled.filter(F.col("split") == "test")
    assert tr.count() == math.ceil(0.85 * 90)
    assert te.count() == 90 - math.ceil(0.85 * 90)
    assert tr.agg(F.max("d")).first()[0] < te.agg(F.min("d")).first()[0]


def test_ar_forecast_linear_trend():
    y = np.arange(100, dtype=float) * 2.0 + 5.0
    fc = _ar_fit_forecast(y, p=2, d=1, steps=5)
    # diff of a linear series is constant → forecast continues the line
    expected = y[-1] + 2.0 * np.arange(1, 6)
    assert np.allclose(fc, expected, rtol=1e-6)


def test_ar_forecast_grouped(spark, series_df):
    df = series_df.withColumn("k", F.lit("s1"))
    out = ar_forecast_grouped(df, ["k"], "d", "y", p=3, d=1, steps=7).collect()
    assert len(out) == 7
    assert all(np.isfinite(r["forecast"]) for r in out)


def test_dtw_identity_and_shift():
    a = np.array([0.0, 1.0, 2.0, 1.0, 0.0])
    assert _dtw(a, a) == 0.0
    b = np.array([0.0, 0.0, 1.0, 2.0, 1.0, 0.0])  # time-shifted
    assert _dtw(a, b) < np.abs(a.sum() - b.sum()) + 1.0  # warps cheaply


def test_dtw_kmedoids(spark):
    rows = []
    for sid in range(6):
        base = 0.0 if sid < 3 else 10.0
        rows.append((f"s{sid}", [base + float(i % 3) for i in range(12)]))
    df = spark.createDataFrame(rows, "series_id string, series array<double>")
    dist = dtw_distance_matrix(df)
    assignment = kmedoids_rows(dist.collect(), k=2)
    g1 = {assignment[f"s{i}"] for i in range(3)}
    g2 = {assignment[f"s{i}"] for i in range(3, 6)}
    assert len(g1) == 1 and len(g2) == 1 and g1 != g2


def test_np_decompose_recovers_seasonality():
    n, period = 140, 7
    t = np.arange(n, dtype=float)
    seasonal_true = np.tile([0, 1, 2, 3, -2, -3, -1], n // period).astype(float)
    y = 0.5 * t + seasonal_true
    trend, seasonal, resid = _np_decompose(y, period)
    mid = slice(period, n - period)
    assert np.nanmax(np.abs(resid[mid])) < 0.2
    # seasonal pattern recovered up to a constant
    got = seasonal[:period] - seasonal[:period].mean()
    want = seasonal_true[:period] - seasonal_true[:period].mean()
    assert np.allclose(got, want, atol=0.1)


def test_numpy_gp_fits():
    X = np.linspace(0, 1, 8).reshape(-1, 1)
    y = np.sin(3 * X.ravel())
    gp = _NumpyGP(alpha=1e-6, length_scale=0.3).fit(X, y)
    mu, std = gp.predict(X)
    assert np.allclose(mu, y, atol=1e-2)
    assert (std < 0.1).all()


def test_bayes_opt_finds_minimum():
    res = bayes_opt(lambda x: (x[0] - 3.0) ** 2, [(0.0, 10.0)], n_init=4, n_iter=10)
    assert abs(res["best_x"][0] - 3.0) < 1.0


def test_arx_exog_improves_fit(spark):
    """Series driven by an exogenous covariate: ARX tracks the exog
    forecast level; pure AR can't see the driver variable."""
    import datetime as dt

    import numpy as np

    from energy_consumption_forecasting_spark.ml.forecast import (
        _ar_fit_forecast,
        _arx_fit_forecast,
    )

    rng = np.random.RandomState(3)
    n = 200
    x = np.sin(np.arange(n) / 5.0) * 10
    y = 3.0 * x + 50.0 + 0.01 * rng.randn(n)
    fc_arx = _arx_fit_forecast(y, x.reshape(-1, 1), p=2, d=0, steps=3)
    # exog held at last value → forecast ≈ 3*x[-1] + 50
    assert abs(fc_arx[0] - (3.0 * x[-1] + 50.0)) < 2.0


def test_ar_forecast_grouped_with_exog(spark):
    import datetime as dt

    rows = [
        (
            "s1",
            dt.date(2021, 1, 1) + dt.timedelta(days=i),
            float(20 + 2.0 * (i % 10)),
            float(i % 10),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k string, d date, y double, x double")
    from energy_consumption_forecasting_spark.ml.forecast import ar_forecast_grouped

    out = ar_forecast_grouped(
        df, ["k"], "d", "y", p=3, d=0, steps=5, exog_cols=["x"]
    ).collect()
    assert len(out) == 5
    assert all(abs(r["forecast"]) < 1e6 for r in out)


def test_m7_stl_robust_weights_and_alignment(spark):
    """Robust tier invariants: weights are quantized bisquare values in
    [0, 1024]; genuinely outlying residuals (beyond 6*median) get weight
    0; rows align 1:1 with the classical decomposition; and the robust
    residual spread (where defined) is no larger than 2x classical
    (reweighting must not blow up the fit)."""
    from energy_consumption_forecasting_spark.queries.timeseries import (
        m7_seasonal_decompose,
        m7_stl_robust,
    )

    SF_SMALL = "/root/testdata/sf0.001"
    robust = {r["d"]: r for r in m7_stl_robust(spark, SF_SMALL).collect()}
    classical = {r["d"]: r for r in m7_seasonal_decompose(spark, SF_SMALL).collect()}
    assert set(robust) == set(classical)
    ws = [r["weight_fp"] for r in robust.values()]
    assert all(0 <= w <= 1024 for w in ws)
    assert any(w == 0 for w in ws), "no residual was downweighted to zero"
    assert any(0 < w < 1024 for w in ws), "no intermediate bisquare weight"
    # null pattern: resid defined iff trend and seasonal both defined
    for r in robust.values():
        assert (r["resid"] is None) == (
            r["trend"] is None or r["seasonal"] is None
        )
    import statistics

    rr = [r["resid"] for r in robust.values() if r["resid"] is not None]
    rc = [r["resid"] for r in classical.values() if r["resid"] is not None]
    assert statistics.pstdev(rr) < 2 * statistics.pstdev(rc)


def test_label_folds_distributed_equals_window_form(spark, series_df):
    """The default (two-pass rank) path, the bucket lazy path, and the
    bounded window fast path must assign bit-identical (fold, role) —
    the integer ntile algebra mirrors the window ntile exactly."""
    def key(df):
        return {
            r["d"]: (r["fold"], r["role"])
            for r in df.select("d", "fold", "role").collect()
        }

    base = key(label_folds(series_df, ["d"], bounded=True))
    assert key(label_folds(series_df, ["d"])) == base
    bucketed = label_folds(
        series_df, ["d"], bucket=F.month("d").cast("long")
    )
    assert key(bucketed) == base


def test_label_folds_raw_frame_never_single_partitions(spark):
    """Round-6 VERDICT item 4 plan contract: label_folds on a RAW
    (unbounded-source) frame must not put an unpartitioned Window over
    that source — the library default is the two-pass distributed
    rank.  Walks the optimized plan exactly as tools/plan_audit.py's
    hard guard does."""
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    labeled = label_folds(raw, ["o_orderdate", "o_orderkey"])
    assert audit_unpartitioned_windows(labeled) == []
    split = label_split(raw, ["o_orderdate", "o_orderkey"])
    assert audit_unpartitioned_windows(split) == []
    # the lazy-bucket variant is action-free AND clean
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    lazy = label_folds(
        raw,
        ["o_orderdate", "o_orderkey"],
        bucket=(F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast(
            "long"
        ),
    )
    assert dag.numTotalJobs() == before, "bucket path must launch zero jobs"
    assert audit_unpartitioned_windows(lazy) == []
