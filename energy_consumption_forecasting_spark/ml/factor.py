"""Factor Analysis with varimax rotation — SURVEY §2.7 M4.

Reference: 3-factor decomposition alternative to PCA
(ts_kmeans_base.ipynb:943-945), sklearn FactorAnalysis + varimax.

Implementation is principal-axis factoring on the correlation matrix
(eigendecomposition of the reduced correlation matrix with iterated
communalities) plus the published varimax rotation — both plain numpy
on a features×features matrix.  Per SURVEY §2.7, the factorization
itself is driver-sized by construction; Spark's job is the upstream
aggregation + correlation matrix, which ARE distributed (exact decimal
sums).  r1 carried an sklearn-gated branch that collected the RAW rows
via toPandas — removed: any library backend must consume the same
driver-sized correlation matrix, never the table."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def moment_aggs(cols: list[str]) -> list:
    """The exact-moment aggregate list behind the Pearson matrix
    (`corr_from_moment_row`): row count, per-column decimal sums,
    upper-triangle cross sums."""
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        d = F.col(c).cast("decimal(28,6)")
        aggs += [F.sum(d).cast("double").alias(f"s_{c}")]
    for i, a in enumerate(cols):
        for b in cols[i:]:
            da = F.col(a).cast("decimal(28,6)")
            db = F.col(b).cast("decimal(28,6)")
            aggs.append(F.sum(da * db).cast("double").alias(f"q_{a}__{b}"))
    return aggs


def corr_from_moment_row(row, cols: list[str]) -> np.ndarray:
    """Rebuild the Pearson matrix from a `moment_aggs` row — pure
    numpy, callable on the driver or inside an executor fold."""
    n = int(row["__n"])
    k = len(cols)
    C = np.zeros((k, k))
    means = {c: row[f"s_{c}"] / n for c in cols}
    for i, a in enumerate(cols):
        for j in range(i, k):
            b = cols[j]
            cov = row[f"q_{a}__{b}"] / n - means[a] * means[b]
            C[i, j] = C[j, i] = cov
    d = np.sqrt(np.diag(C))
    return C / np.outer(d, d)


def principal_axis_factoring(R: np.ndarray, n_factors: int) -> np.ndarray:
    """Iterated PAF: communalities on the diagonal, eigendecompose,
    update until stable (at most 50 rounds).  Returns (k, n_factors)
    loadings."""
    k = R.shape[0]
    h2 = 1.0 - 1.0 / np.diag(np.linalg.pinv(R))  # SMC start
    for _ in range(50):
        Rr = R.copy()
        np.fill_diagonal(Rr, h2)
        vals, vecs = np.linalg.eigh(Rr)
        order = np.argsort(vals)[::-1][:n_factors]
        L = vecs[:, order] * np.sqrt(np.clip(vals[order], 0, None))
        # Clamp the communality update to 1: unbounded PAF iteration
        # drifts into Heywood cases (h² > 1 ⇒ |loading| > 1 for a
        # standardized variable — measured on the daily order features),
        # and the standard remedy is exactly this bound (same rule as
        # factor_analyzer / SPSS).  Loadings are rescaled with the
        # clamped h² so the returned L stays consistent with it.
        h2_new = (L**2).sum(axis=1)
        over = h2_new > 1.0
        if over.any():
            L[over] *= np.sqrt(1.0 / h2_new[over])[:, None]
            h2_new = np.minimum(h2_new, 1.0)
        if np.max(np.abs(h2_new - h2)) < 1e-6:
            h2 = h2_new
            break
        h2 = h2_new
    return L


def varimax(L: np.ndarray) -> np.ndarray:
    """Kaiser's varimax rotation (published algorithm): at most 100
    rounds, stopping once the criterion gains less than 1e-8."""
    k, m = L.shape
    R = np.eye(m)
    var_old = 0.0
    for _ in range(100):
        Lr = L @ R
        u, s, vt = np.linalg.svd(
            L.T @ (Lr**3 - (Lr * (Lr**2).sum(axis=0) / k))
        )
        R = u @ vt
        var_new = s.sum()
        if var_new - var_old < 1e-8:
            break
        var_old = var_new
    return L @ R
