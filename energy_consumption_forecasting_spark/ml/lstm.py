"""LSTM sequence regressor — SURVEY §2.7 M11.

Reference: 2-layer (bi)LSTM, dropout 0.3, linear head, AMP train loop
(LSTM.py:14-123); grid of 80 hyperparameter points recorded in
lstm_params.json; trained on GPU (out of relational scope).

torch is absent from this container, so the torch model itself is
import-gated.  What IS Spark-native and implemented here:

* ``sequence_dataset`` — the W8 sliding-window tensor prep
  (LSTM.py:125-148) as window functions: length-L feature windows +
  next-step target, returned as array columns ready for Arrow export.
* ``NumpyLSTM`` / ``lstm_train`` — a real in-container trainer: numpy
  forward + full BPTT + Adam for the same single-layer shape (gradient-
  checked in tests/test_lstm_numpy.py).
* ``TorchLSTM`` — the reference-architecture trainer used automatically
  when torch IS importable (multi-layer + dropout + linear head, Adam,
  same ``(model, history)`` contract; per-worker body for
  ``TorchDistributor`` on a GPU cluster).  Torch-gated test skips here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

try:
    import torch  # type: ignore # noqa: F401

    _HAS_TORCH = True
except ImportError:
    _HAS_TORCH = False

DEFAULT_PARAMS = {
    # best point of the reference's 80-point grid (lstm_params.json:8-12)
    "hidden_size": 8,
    "num_layers": 1,
    "lr": 0.005,
    "dropout": 0.3,
    "seq_length": 30,
}


def sequence_dataset(
    df: DataFrame,
    time_col: str,
    feature_cols: list[str],
    target_col: str,
    seq_length: int = 30,
) -> DataFrame:
    """(window array of feature rows, next-step target) per time step —
    only full windows are kept (W8; LSTM.py:138-148)."""
    w = Window.orderBy(time_col)
    frame = w.rowsBetween(-(seq_length - 1), 0)
    feats = F.array(*[F.col(c).cast("double") for c in feature_cols])
    return (
        df.select(
            time_col,
            F.flatten(F.collect_list(feats).over(frame)).alias("x"),
            F.count("*").over(frame).alias("__n"),
            F.lead(F.col(target_col).cast("double")).over(w).alias("y"),
        )
        .filter((F.col("__n") == seq_length) & F.col("y").isNotNull())
        .drop("__n")
    )


class NumpyLSTM:
    """Library-free single-layer LSTM regressor: numpy forward + full
    BPTT + Adam.  Standard published equations (Hochreiter &
    Schmidhuber '97 cell; Kingma & Ba '15 optimizer) — closes the r1
    gap where M11's trainer existed only behind the absent torch gate.

    Gate order in the packed weight matrix: [i, f, g, o].  Weights are
    W ∈ R^{(D+H)×4H} over concat(x_t, h_{t-1}), bias b ∈ R^{4H}, linear
    head (Wy ∈ R^{H×1}, by).  Forget-gate bias starts at 1.0 (standard
    initialization, keeps early memory open).  Deterministic under the
    seed: same data → same weights, any platform with IEEE doubles."""

    def __init__(self, n_features: int, hidden: int = 8, seed: int = 42):
        rng = np.random.RandomState(seed)
        D, H = n_features, hidden
        s_in = 1.0 / np.sqrt(D + H)
        self.D, self.H = D, H
        self.W = rng.uniform(-s_in, s_in, (D + H, 4 * H))
        self.b = np.zeros(4 * H)
        self.b[H : 2 * H] = 1.0  # forget bias
        self.Wy = rng.uniform(-1.0 / np.sqrt(H), 1.0 / np.sqrt(H), (H, 1))
        self.by = np.zeros(1)
        self._adam = None

    @staticmethod
    def _sigmoid(x: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.exp(-x))

    def _forward(self, X: np.ndarray):
        """X: (N, L, D) → prediction (N,), caches for BPTT."""
        N, L, D = X.shape
        H = self.H
        h = np.zeros((N, H))
        c = np.zeros((N, H))
        cache = []
        for t in range(L):
            xt = X[:, t, :]
            z = np.concatenate([xt, h], axis=1) @ self.W + self.b
            i = self._sigmoid(z[:, :H])
            f = self._sigmoid(z[:, H : 2 * H])
            g = np.tanh(z[:, 2 * H : 3 * H])
            o = self._sigmoid(z[:, 3 * H :])
            c_new = f * c + i * g
            h_new = o * np.tanh(c_new)
            cache.append((xt, h, c, i, f, g, o, c_new))
            h, c = h_new, c_new
        pred = (h @ self.Wy + self.by).ravel()
        return pred, h, cache

    def _backward(self, X, y, pred, h_last, cache):
        """MSE loss gradients for every parameter (full BPTT)."""
        N, L, D = X.shape
        H = self.H
        dpred = (2.0 / N) * (pred - y)  # d MSE
        dWy = h_last.T @ dpred[:, None]
        dby = dpred.sum(keepdims=True)
        dh = dpred[:, None] @ self.Wy.T
        dc = np.zeros((N, H))
        dW = np.zeros_like(self.W)
        db = np.zeros_like(self.b)
        for t in range(L - 1, -1, -1):
            xt, h_prev, c_prev, i, f, g, o, c_new = cache[t]
            tc = np.tanh(c_new)
            do = dh * tc
            dc = dc + dh * o * (1.0 - tc * tc)
            di = dc * g
            df = dc * c_prev
            dg = dc * i
            dz = np.concatenate(
                [
                    di * i * (1.0 - i),
                    df * f * (1.0 - f),
                    dg * (1.0 - g * g),
                    do * o * (1.0 - o),
                ],
                axis=1,
            )
            inp = np.concatenate([xt, h_prev], axis=1)
            dW += inp.T @ dz
            db += dz.sum(axis=0)
            dh = dz @ self.W[D:, :].T
            dc = dc * f
        return {"W": dW, "b": db, "Wy": dWy, "by": dby}

    def _adam_step(self, grads: dict, lr: float) -> None:
        if self._adam is None:
            self._adam = {
                k: (np.zeros_like(getattr(self, k)), np.zeros_like(getattr(self, k)))
                for k in grads
            }
            self._t = 0
        self._t += 1
        b1, b2, eps = 0.9, 0.999, 1e-8
        for k, g in grads.items():
            m, v = self._adam[k]
            m = b1 * m + (1 - b1) * g
            v = b2 * v + (1 - b2) * g * g
            self._adam[k] = (m, v)
            mh = m / (1 - b1**self._t)
            vh = v / (1 - b2**self._t)
            setattr(self, k, getattr(self, k) - lr * mh / (np.sqrt(vh) + eps))

    def fit(
        self, X: np.ndarray, y: np.ndarray, epochs: int = 60, lr: float = 0.005
    ) -> list[float]:
        """Full-batch Adam; returns the per-epoch MSE history."""
        X = np.asarray(X, np.float64)
        y = np.asarray(y, np.float64)
        history = []
        for _ in range(epochs):
            pred, h_last, cache = self._forward(X)
            history.append(float(np.mean((pred - y) ** 2)))
            grads = self._backward(X, y, pred, h_last, cache)
            self._adam_step(grads, lr)
        return history

    def predict(self, X: np.ndarray) -> np.ndarray:
        pred, _, _ = self._forward(np.asarray(X, np.float64))
        return pred


class TorchLSTM:
    """Torch parity trainer, reference architecture: ``nn.LSTM`` with
    ``num_layers`` (dropout between layers), a linear head on the last
    timestep, MSE + Adam (reference `src/scripts/LSTM.py:14-123` —
    `DLConsumptionForecaster` + `ConsumptionForecasterTrainer`).

    Same contract as ``NumpyLSTM``: ``fit(X, y) -> history`` and
    ``predict(X) -> (n,) ndarray``.  Single-process here; on a GPU
    cluster the same class is the per-worker body for
    ``pyspark.ml.torch.distributor.TorchDistributor``."""

    def __init__(
        self,
        n_features: int,
        hidden: int = 8,
        num_layers: int = 2,
        dropout: float = 0.3,
        bidirectional: bool = False,
        seed: int = 42,
    ):
        import torch
        from torch import nn

        torch.manual_seed(seed)
        d = 2 if bidirectional else 1
        self._lstm = nn.LSTM(
            n_features,
            hidden_size=hidden,
            num_layers=num_layers,
            batch_first=True,
            # torch warns (and ignores) dropout on a 1-layer LSTM
            dropout=dropout if num_layers > 1 else 0.0,
            bidirectional=bidirectional,
        )
        self._head = nn.Linear(hidden * d, 1)

    def _module_forward(self, xb):
        out, _ = self._lstm(xb)
        return self._head(out[:, -1, :]).squeeze(-1)

    def fit(
        self, X: np.ndarray, y: np.ndarray, epochs: int = 60, lr: float = 0.005
    ) -> list[float]:
        import torch

        xb = torch.as_tensor(np.asarray(X, np.float32))
        yb = torch.as_tensor(np.asarray(y, np.float32))
        params = list(self._lstm.parameters()) + list(self._head.parameters())
        opt = torch.optim.Adam(params, lr=lr)
        loss_fn = torch.nn.MSELoss()
        self._lstm.train(), self._head.train()
        history = []
        for _ in range(epochs):
            opt.zero_grad()
            loss = loss_fn(self._module_forward(xb), yb)
            loss.backward()
            opt.step()
            history.append(float(loss.detach()))
        return history

    def predict(self, X: np.ndarray) -> np.ndarray:
        import torch

        self._lstm.eval(), self._head.eval()
        with torch.no_grad():
            xb = torch.as_tensor(np.asarray(X, np.float32))
            return self._module_forward(xb).numpy().astype(np.float64)


def lstm_train(X: np.ndarray, y: np.ndarray, params: dict | None = None):
    """Train an LSTM on (n, seq_len, n_features) X and (n,) y tensors.

    torch present → ``TorchLSTM``, the reference architecture
    (LSTM.py:14-123; TorchDistributor at cluster scale).  torch absent
    (this container) → the numpy trainer runs the same single-layer
    shape for real: full BPTT, Adam, deterministic seed.  Returns
    ``(model, history)`` where ``model.predict(X)`` works either way."""
    p = {**DEFAULT_PARAMS, **(params or {})}
    if _HAS_TORCH:  # pragma: no cover — torch absent in this container
        model = TorchLSTM(
            n_features=X.shape[2],
            hidden=int(p["hidden_size"]),
            num_layers=int(p.get("num_layers", 1)),
            dropout=float(p.get("dropout", 0.3)),
            seed=int(p.get("seed", 42)),
        )
    else:
        model = NumpyLSTM(
            n_features=X.shape[2],
            hidden=int(p["hidden_size"]),
            seed=int(p.get("seed", 42)),
        )
    history = model.fit(X, y, epochs=int(p.get("epochs", 60)), lr=float(p["lr"]))
    return model, history
