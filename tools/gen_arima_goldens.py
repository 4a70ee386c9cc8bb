"""Generate tests/fixtures/arima_goldens.json — exact-MLE ARMA fits on
deterministic series, used to pin the engine's Hannan–Rissanen+CSS
estimator (round-4 VERDICT item 2).

Run once (committed output is the source of truth):
    python tools/gen_arima_goldens.py

The series are seeded simulations whose literal values live IN the
fixture, so the goldens are verifiable from the JSON alone — the test
re-evaluates the committed parameters' exact log-likelihood with
ml/kalman_arima.py and asserts self-consistency before comparing the
engine's estimator against them.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from energy_consumption_forecasting_spark.ml.forecast import (  # noqa: E402
    _css_refine,
    _hannan_rissanen,
)
from energy_consumption_forecasting_spark.ml.kalman_arima import (  # noqa: E402
    arma_forecast,
    arma_loglik,
    exact_mle_fit,
)

CASES = [
    # (name, p, q, n, mu, phi, theta, seed)
    ("arma11", 1, 1, 200, 10.0, [0.7], [0.4], 11),
    ("arma22", 2, 2, 300, -3.0, [0.5, 0.2], [0.3, -0.25], 22),
    # the reference's headline ARMA order (3,4) — evaluation.ipynb:187-191
    ("arma34", 3, 4, 400, 50.0, [0.4, 0.25, 0.1], [0.3, -0.2, 0.15, 0.1], 34),
]


def simulate(n, mu, phi, theta, seed):
    rng = np.random.default_rng(seed)
    p, q = len(phi), len(theta)
    burn = 200
    e = rng.normal(size=n + burn)
    z = np.zeros(n + burn)
    c = mu * (1 - sum(phi))
    for t in range(max(p, q), n + burn):
        z[t] = (
            c
            + sum(phi[j] * z[t - j - 1] for j in range(p))
            + e[t]
            + sum(theta[j] * e[t - j - 1] for j in range(q))
        )
    return z[burn:]


def main():
    out = {}
    for name, p, q, n, mu, phi, theta, seed in CASES:
        z = simulate(n, mu, np.array(phi), np.array(theta), seed)
        c0, phi0, th0, _, _ = _hannan_rissanen(z, None, p, q)
        c0, phi0, th0, _, _ = _css_refine(z, None, p, q, c0, phi0, th0, np.zeros(0))
        denom = 1.0 - float(np.sum(phi0))
        mu0 = c0 / denom if abs(denom) > 1e-8 else float(z.mean())
        fit = exact_mle_fit(z, p, q, start=(mu0, phi0, th0))
        fc = arma_forecast(z, fit["mu"], fit["phi"], fit["theta"], steps=14)
        ll_check, _ = arma_loglik(z, fit["mu"], np.array(fit["phi"]), np.array(fit["theta"]))
        assert abs(ll_check - fit["loglik"]) < 1e-9
        out[name] = {
            "p": p,
            "q": q,
            "true": {"mu": mu, "phi": phi, "theta": theta},
            "series": [float(v) for v in z],
            "mle": fit,
            "forecast14": [float(v) for v in fc],
        }
        print(name, "mle loglik", fit["loglik"], "phi", fit["phi"], "theta", fit["theta"])
    path = os.path.join(
        os.path.dirname(__file__), "..", "tests", "fixtures", "arima_goldens.json"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", os.path.abspath(path))


if __name__ == "__main__":
    main()
