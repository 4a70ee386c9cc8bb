"""Model-analysis kernels — SURVEY §2.7 M13, M15-M18.

Reference: SHAP KernelExplainer importance (evaluation.ipynb:13964-13991),
feature-group ablation (V:14040-14072), order sensitivity sweep
(V:14136-14238), BO over the AR order (optimization.py:112-151).  The
learning curve (V:19103-19118) is the registered ``m18_learning_curve``
query (queries/ml_queries.py).

The ablation, the sensitivity sweep, permutation importance and the
AR-order BO all score the daily order series, one row per calendar day,
with the trailing-mean AR objective.  The series is small by
construction, so each of those queries scores it with the numpy
functions below inside one ``single_task.run`` task: every objective
evaluation is a numpy call on the task, not a Spark job.

The Shapley estimators score a fitted Spark model: their v(S) grid is
one distributed ``predict`` pass.  SHAP itself needs the shap package;
``hashed_permutation`` drives the library-free permutation-importance
analog (published algorithm: metric degradation under per-feature
value shuffling)."""

from __future__ import annotations

import hashlib

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def trailing_mean_mae(y: np.ndarray, p: int, first_scored: int) -> float:
    """MAE of the trailing-mean AR(p) predictor over ``y[first_scored:]``:
    row i is predicted by the mean of the up-to-``p`` rows before it,
    and is scored when it has at least one.  NaN when no row is scored.

    Each window and the error list are summed left to right
    (``np.add.accumulate``; ``np.sum`` sums pairwise), the order a
    Spark ``avg`` over a sliding row frame and over one sorted
    partition adds in, so the value is the same double Spark gives."""
    y = np.asarray(y, dtype=float)
    start = max(first_scored, 1)
    if start >= len(y):
        return float("nan")
    # row i's window is padded[i : i + p]: y[i-p:i] behind zeros, and a
    # leading 0.0 leaves a left-to-right sum unchanged
    windows = sliding_window_view(np.concatenate([np.zeros(p), y]), p)
    sums = np.add.accumulate(windows[start : len(y)], axis=1)[:, -1]
    errs = np.abs(sums / np.minimum(np.arange(start, len(y)), p) - y[start:])
    return float(np.add.accumulate(errs)[-1] / len(errs))


def blocked_cv_mae(y: np.ndarray, p: int, n_folds: int) -> float:
    """Blocked-CV MAE of the trailing-mean AR(p) predictor (ml/cv.py's
    folds over ``y`` in order): ``ntile`` blocks, the first
    ``len(y) % n_folds`` one row longer, and a row is validation when
    its 1-based position in its block is ``> 0.8 * size``.  Each block
    is scored on its own rows; blocks with no scored row are left out,
    and the result is NaN when none is left."""
    base, big = divmod(len(y), n_folds)
    scores, start = [], 0
    for k in range(n_folds):
        size = base + (k < big)
        first = next((j for j in range(size) if j + 1 > 0.8 * size), size)
        if max(first, 1) < size:
            scores.append(trailing_mean_mae(y[start : start + size], p, first))
        start += size
    if not scores:
        return float("nan")
    return float(np.add.accumulate(scores)[-1] / len(scores))


def hashed_permutation(values: np.ndarray, col: str) -> np.ndarray:
    """``values`` (one per row, in row order) under the fixed shuffle of
    column ``col``: the row with 1-based rank r takes the value of the
    row whose key ``md5("42|<col>|<rank>")`` sorts r-th, so the
    permutation is a function of the row count and the column name."""
    keys = [
        hashlib.md5(f"42|{col}|{r}".encode()).hexdigest()
        for r in range(1, len(values) + 1)
    ]
    return np.asarray(values)[np.argsort(keys)]


def _coalition_values(
    predict,
    explain_df: DataFrame,
    background_df: DataFrame,
    feature_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Shared v(S) pass for the two Shapley estimators: for every
    explain row × every subset mask, mix explained/background feature
    values (the interventional v(S)), score the whole grid with ONE
    distributed ``predict`` pass, and average over the background.
    Returns (id_col, mask, v)."""
    m = len(feature_cols)
    spark = explain_df.sparkSession
    masks = spark.createDataFrame([(s,) for s in range(2**m)], "mask int")
    bg = background_df.select(
        *[F.col(c).alias(f"__b_{c}") for c in feature_cols]
    )
    ex = explain_df.select(
        id_col, *[F.col(c).alias(f"__x_{c}") for c in feature_cols]
    )
    grid = ex.crossJoin(F.broadcast(masks)).crossJoin(F.broadcast(bg))
    mixed = grid.select(
        id_col,
        "mask",
        *[
            F.when(F.shiftright("mask", i).bitwiseAND(1) == 1, F.col(f"__x_{c}"))
            .otherwise(F.col(f"__b_{c}"))
            .alias(c)
            for i, c in enumerate(feature_cols)
        ],
    )
    return (
        predict(mixed)
        .groupBy(id_col, "mask")
        .agg(F.avg("prediction").alias("v"))
    )


def shapley_values(
    predict,
    explain_df: DataFrame,
    background_df: DataFrame,
    feature_cols: list[str],
    id_col: str = "__sid",
) -> DataFrame:
    """M15, real Shapley attribution (upgrades the r1 permutation-
    importance analog): EXACT interventional Shapley values — the
    quantity SHAP's KernelExplainer estimates (evaluation.ipynb:
    13964-13991) — computed exactly by enumerating all 2^m feature
    subsets (m = len(feature_cols) is small for lag models, so 2^m is
    driver-trivial while the SCORING is the expensive part and runs
    distributed):

    * grid = explain rows × broadcast(background rows) × broadcast(all
      subset masks); features in the subset take the explained row's
      value, the rest the background row's — the interventional v(S).
    * ONE ``predict`` pass scores the whole grid (MLlib transform: one
      distributed job, never a per-subset loop over the cluster).
    * v(S) = avg over background; φ weights join in as a tiny
      (mask, feature, ±|S|!(m−|S|−1)!/m!) table; a groupBy finishes.

    ``predict`` is any ``DataFrame -> DataFrame`` adding a
    ``prediction`` column (e.g. ``model.transform`` after assembly).
    Returns (id_col, feature, phi).  Satisfies efficiency:
    Σ_i φ_i = f(x) − E_background[f] (tested)."""
    import math

    m = len(feature_cols)
    spark = explain_df.sparkSession
    v = _coalition_values(
        predict, explain_df, background_df, feature_cols, id_col
    )
    # φ_i = Σ_{S∌i} w(|S|) · [v(S∪i) − v(S)],  w(s) = s!(m−s−1)!/m!
    wrows = []
    fact = math.factorial
    for i, c in enumerate(feature_cols):
        for mask in range(2**m):
            if mask >> i & 1:
                continue
            s = bin(mask).count("1")
            w = fact(s) * fact(m - s - 1) / fact(m)
            wrows.append((mask | (1 << i), c, w))
            wrows.append((mask, c, -w))
    weights = F.broadcast(
        spark.createDataFrame(wrows, "mask int, feature string, w double")
    )
    return (
        v.join(weights, "mask")
        .groupBy(id_col, "feature")
        .agg(F.sum(F.col("w") * F.col("v")).alias("phi"))
    )


def kernel_shap(
    predict,
    explain_df: DataFrame,
    background_df: DataFrame,
    feature_cols: list[str],
    id_col: str = "__sid",
) -> DataFrame:
    """M15, the reference's ACTUAL estimator: SHAP KernelExplainer
    (Lundberg & Lee 2017, §4; evaluation.ipynb:13964-13991) — Shapley
    values recovered as the solution of a weighted linear regression
    over coalition vectors z ∈ {0,1}^m with the Shapley kernel

        π(z) = (m − 1) / (C(m,|z|) · |z| · (m − |z|)),

    subject to the two KernelSHAP constraints φ0 = v(∅) and
    Σφ = f(x) − v(∅).  With the full coalition enumeration (feature
    sets here are small: lag models), the regression solution equals
    exact Shapley — pinned by a pytest against ``shapley_values``.

    Work split, 100-TB posture: v(z) is the SAME single distributed
    scoring pass as the exact estimator (`_coalition_values` — explain ×
    background × mask grid, one ``predict`` job); the regression solve
    is a driver-side (2^m−2) × (m−1) least squares per explain row —
    KB-sized, never data-path.  Returns (id_col, feature, phi)."""
    import math

    m = len(feature_cols)
    if m < 2:
        raise ValueError("kernel_shap needs >= 2 features")
    v = _coalition_values(
        predict, explain_df, background_df, feature_cols, id_col
    ).collect()  # bounded: n_explain × 2^m rows (masks, not data)
    by_id: dict = {}
    for row in v:
        by_id.setdefault(row[id_col], {})[row["mask"]] = row["v"]
    full = 2**m - 1
    comb = math.comb
    out_rows = []
    for sid, vs in sorted(by_id.items(), key=lambda kv: str(kv[0])):
        v0, fx = vs[0], vs[full]
        # Eliminate the Σφ constraint by substituting
        # φ_{m-1} = (fx − v0) − Σ_{i<m-1} φ_i; regress the residual
        # target on (z_i − z_{m-1}) with kernel weights.
        rows, ys, ws = [], [], []
        for mask in range(1, full):
            s = bin(mask).count("1")
            z = [(mask >> i) & 1 for i in range(m)]
            rows.append([z[i] - z[m - 1] for i in range(m - 1)])
            ys.append(vs[mask] - v0 - z[m - 1] * (fx - v0))
            ws.append((m - 1) / (comb(m, s) * s * (m - s)))
        A = np.asarray(rows, dtype=float)
        y = np.asarray(ys, dtype=float)
        w = np.asarray(ws, dtype=float)
        aw = A * w[:, None]
        phi_head = np.linalg.solve(aw.T @ A, aw.T @ y)
        phis = list(phi_head) + [float(fx - v0) - float(phi_head.sum())]
        out_rows.extend(
            (sid, c, float(p)) for c, p in zip(feature_cols, phis)
        )
    # Emit the ORIGINAL id values/type (matching shapley_values) so a
    # caller can join phi back onto explain_df without a cast; str(sid)
    # is only a stable sort key above, never the emitted value.
    spark = explain_df.sparkSession
    out_schema = T.StructType(
        [
            explain_df.schema[id_col],
            T.StructField("feature", T.StringType()),
            T.StructField("phi", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(out_rows, out_schema)
