"""Bayesian hyperparameter optimization — SURVEY §2.7 M13.

Reference: GP surrogate (GaussianProcessRegressor(alpha=1e-3,
n_restarts=10, normalize_y=True)), LCB acquisition mu − 2.753·std,
100-point random candidate pool, outlier-rejection >3.5×max
(optimization.py:35-151).

sklearn is optional; the numpy GP below implements the published RBF-GP
regression equations (Cholesky solve) and the same LCB rule.  The
surrogate models a handful of scalar (hyperparam, objective) points, so
it runs wherever the loop runs.  The objective is the caller's: for
``m13_bayesopt_gbt`` each evaluation fits Spark GBT models, while
``m13_bayesopt_ar_order`` runs the whole loop inside one task and each
evaluation is a numpy MAE over the daily series (ml/analysis.py)."""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

try:
    from sklearn.gaussian_process import GaussianProcessRegressor  # type: ignore

    _HAS_SKLEARN = True
except ImportError:
    _HAS_SKLEARN = False

KAPPA = 2.753  # reference's LCB multiplier (optimization.py:84-91)
N_CANDIDATES = 100  # random LCB candidate pool per iteration
OUTLIER_FACTOR = 3.5  # forsake a run above this multiple of the max so far


class _NumpyGP:
    """Minimal RBF-kernel GP regressor (normalize_y, jitter alpha)."""

    def __init__(self, alpha: float = 1e-3, length_scale: float = 1.0):
        self.alpha = alpha
        self.length_scale = length_scale

    def _k(self, A: np.ndarray, B: np.ndarray) -> np.ndarray:
        d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(-1)
        return np.exp(-0.5 * d2 / self.length_scale**2)

    def fit(self, X: np.ndarray, y: np.ndarray) -> "_NumpyGP":
        self.X = np.atleast_2d(X).astype(float)
        self.y_mean = float(np.mean(y))
        self.y_std = float(np.std(y)) or 1.0
        yn = (np.asarray(y, float) - self.y_mean) / self.y_std
        K = self._k(self.X, self.X) + self.alpha * np.eye(len(self.X))
        self.L = np.linalg.cholesky(K)
        self.alpha_vec = np.linalg.solve(
            self.L.T, np.linalg.solve(self.L, yn)
        )
        return self

    def predict(self, Xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        Xs = np.atleast_2d(Xs).astype(float)
        Ks = self._k(Xs, self.X)
        mu = Ks @ self.alpha_vec * self.y_std + self.y_mean
        v = np.linalg.solve(self.L, Ks.T)
        var = np.clip(1.0 - (v**2).sum(0), 1e-12, None) * self.y_std**2
        return mu, np.sqrt(var)


def bayes_opt(
    objective: Callable[[np.ndarray], float],
    bounds: list[tuple[float, float]],
    n_init: int = 5,
    n_iter: int = 20,
    seed: int = 42,
) -> dict:
    """Minimize ``objective`` over box ``bounds`` with GP + LCB.

    Mirrors the reference loop: random init, fit surrogate, score a
    random candidate pool with mu − κ·σ, evaluate the argmin.  A NEW
    evaluation exceeding ``OUTLIER_FACTOR`` × the max of the
    already-accepted objectives is forsaken — recorded in history but
    kept out of the surrogate's X/y (optimization.py:131's 'forsake
    this run' branch; the r1 filter compared a point against a max that
    included itself, which kept everything)."""
    rng = np.random.RandomState(seed)
    dim = len(bounds)
    lo = np.array([b[0] for b in bounds])
    hi = np.array([b[1] for b in bounds])

    X: list[np.ndarray] = []
    y: list[float] = []
    history: list[tuple[list[float], float, bool]] = []

    def record(x: np.ndarray, v: float) -> None:
        accepted = not y or v <= OUTLIER_FACTOR * max(y)
        history.append((list(map(float, x)), v, accepted))
        if accepted:
            X.append(np.asarray(x))
            y.append(v)

    def consider(x: np.ndarray) -> None:
        record(x, float(objective(x)))

    # The init design is embarrassingly parallel (no surrogate exists
    # yet): evaluate all points concurrently, then apply the forsake
    # rule in the original order so acceptance is identical to the
    # sequential loop.  Only the BO iterations are inherently serial.
    init_pts = list(lo + rng.rand(n_init, dim) * (hi - lo))
    if len(init_pts) > 1:
        from multiprocessing.pool import ThreadPool

        with ThreadPool(len(init_pts)) as tp:
            init_vals = tp.map(lambda x: float(objective(x)), init_pts)
        for x, v in zip(init_pts, init_vals):
            record(x, v)
    else:
        for x in init_pts:
            consider(x)

    for _ in range(n_iter):
        Xf = np.array(X)
        yf = np.array(y)
        if _HAS_SKLEARN:
            gp = GaussianProcessRegressor(alpha=1e-3, normalize_y=True)
            gp.fit(Xf, yf)
            cand = lo + rng.rand(N_CANDIDATES, dim) * (hi - lo)
            mu, std = gp.predict(cand, return_std=True)
        else:
            gp = _NumpyGP(alpha=1e-3).fit(Xf, yf)
            cand = lo + rng.rand(N_CANDIDATES, dim) * (hi - lo)
            mu, std = gp.predict(cand)
        consider(cand[int(np.argmin(mu - KAPPA * std))])

    best = int(np.argmin(y))
    return {
        "best_x": np.asarray(X[best]),
        "best_y": y[best],
        "history": [(x, v) for x, v, _ in history],
        "accepted": [a for _, _, a in history],
    }
