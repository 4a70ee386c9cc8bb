"""Optional-dependency parity profile (round-4 VERDICT item 7).

Every import-gated branch in the package has a test HERE marked
``optional_deps``; run ``pytest -m optional_deps`` to see exactly which
gated branches execute in the current environment.  In this container
all three libraries are absent, so these tests SKIP with a visible
reason — the moment torch / statsmodels / pywt appears, the
corresponding branch runs and its numeric claim is checked.  Until
then the claims are covered library-free: the LSTM by finite-difference
gradient checks (test_lstm_numpy.py), ARIMA by the exact-MLE Kalman
goldens (test_ml_extras.py), the decomposition/DWT by their algebraic
invariants (test_ml.py).
"""

from __future__ import annotations

import numpy as np
import pytest


@pytest.mark.optional_deps
def test_torch_lstm_branch():
    """lstm_train routes to TorchLSTM (the reference LSTM.py:14-123
    architecture) and actually trains."""
    from energy_consumption_forecasting_spark.ml.lstm import _HAS_TORCH, lstm_train

    if not _HAS_TORCH:
        pytest.skip("torch absent: TorchLSTM branch not executable here")
    rng = np.random.RandomState(0)
    X = rng.randn(64, 6, 3)
    y = (X[:, -1, 0] * 2.0 + 0.5).astype(np.float64)
    model, history = lstm_train(X, y, {"epochs": 40, "hidden_size": 8})
    assert len(history) == 40 and history[-1] < history[0]
    pred = model.predict(X)
    assert pred.shape == (64,) and np.isfinite(pred).all()


@pytest.mark.optional_deps
def test_statsmodels_decompose_parity():
    """_np_decompose must match statsmodels seasonal_decompose exactly
    (same centered-MA trend, by-phase seasonal) where both run."""
    from energy_consumption_forecasting_spark.ml.decomposition import (
        _HAS_STATSMODELS,
        _np_decompose,
    )

    if not _HAS_STATSMODELS:
        pytest.skip("statsmodels absent: seasonal_decompose branch not executable")
    from statsmodels.tsa.seasonal import seasonal_decompose

    rng = np.random.RandomState(1)
    y = (
        10.0
        + np.sin(np.arange(120) * 2 * np.pi / 7) * 3
        + rng.randn(120) * 0.5
    )
    res = seasonal_decompose(y, model="additive", period=7)
    trend, seasonal, resid = _np_decompose(y, 7)
    assert np.allclose(trend, res.trend, equal_nan=True, atol=1e-10)
    assert np.allclose(seasonal, res.seasonal, atol=1e-10)
    assert np.allclose(resid, res.resid, equal_nan=True, atol=1e-10)


@pytest.mark.optional_deps
def test_statsmodels_arima_vs_kalman_mle():
    """The library-free exact-MLE Kalman estimator (the ARIMA golden
    generator) must agree with statsmodels ARIMA on the committed
    golden series: log-likelihood within 0.002/obs."""
    import json
    import os

    try:
        from statsmodels.tsa.arima.model import ARIMA
    except ImportError:
        pytest.skip("statsmodels absent: ARIMA parity branch not executable")

    from energy_consumption_forecasting_spark.ml.kalman_arima import arma_loglik

    path = os.path.join(os.path.dirname(__file__), "fixtures", "arima_goldens.json")
    goldens = json.load(open(path))
    for name, g in goldens.items():
        z = np.asarray(g["series"])
        p, q = g["p"], g["q"]
        sm = ARIMA(z, order=(p, 0, q), trend="c").fit()
        ll_ours = g["mle"]["loglik"]
        assert abs(sm.llf - ll_ours) / len(z) < 0.002, name
        # statsmodels' trend='c' constant IS the process mean mu
        # (regression-with-ARMA-errors parameterization) — do NOT
        # convert through c/(1 − Σφ) (review catch).  Evaluating our
        # exact concentrated likelihood AT statsmodels' fitted params
        # must then reproduce statsmodels' own loglik.
        ll_at_sm, _ = arma_loglik(
            z, float(sm.params[0]), sm.arparams, sm.maparams
        )
        assert abs(ll_at_sm - float(sm.llf)) / len(z) < 0.002, name


@pytest.mark.optional_deps
def test_pywt_db4_parity():
    """The numpy db4 filter bank must reproduce
    pywt.dwt(mode='periodization') exactly."""
    from energy_consumption_forecasting_spark.ml.decomposition import (
        _HAS_PYWT,
        db4_dwt,
    )

    if not _HAS_PYWT:
        pytest.skip("pywt absent: db4 parity branch not executable")
    import pywt

    rng = np.random.RandomState(2)
    for n in (16, 33, 128):
        y = rng.randn(n)
        ca, cd = pywt.dwt(y, "db4", mode="periodization")
        ca2, cd2 = db4_dwt(y)
        assert np.allclose(ca, ca2, atol=1e-10)
        assert np.allclose(cd, cd2, atol=1e-10)
