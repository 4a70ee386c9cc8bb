"""Model-analysis harnesses — SURVEY §2.7 M15-M18.

Reference: SHAP KernelExplainer importance (evaluation.ipynb:13964-13991),
feature-group ablation (V:14040-14072), order sensitivity sweep
(V:14136-14238).  The learning curve (V:19103-19118) is the registered
``m18_learning_curve`` query (queries/ml_queries.py).

The harnesses share one shape: a driver loop over *configurations*, where
each configuration's score is a Spark-evaluated metric.  The loops are
over tens of configs (never data); each evaluation is distributed.

SHAP itself needs the shap package; ``permutation_importance`` is the
library-free analog (published algorithm: metric degradation under
per-feature value shuffling)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cv import folds
from .metrics import mae


Scorer = Callable[[DataFrame], float]
"""A Scorer maps a (train∪val-ready) DataFrame to a scalar metric."""


def naive_ar_cv_mae(
    df: DataFrame,
    time_col: str,
    value_col: str,
    p: int = 7,
    n_folds: int = 5,
) -> float:
    """Shared cheap objective: blocked-CV MAE of a trailing-mean AR(p)
    baseline — every fold evaluation is a window aggregate.

    The folds use ``label_folds``' bounded window form: the documented
    domain is calendar-bounded daily aggregates (the m16/m17 gates and
    queries all pass one), matching the m12 gate's treatment — the
    two-pass rank would pay a repartitionByRange + counting job per CV
    evaluation inside ablation/sensitivity loops for nothing."""
    scores = []
    for train, val in folds(df, [time_col], n_folds=n_folds, bounded=True):
        fold = train.withColumn("__role", F.lit("t")).unionByName(
            val.withColumn("__role", F.lit("v"))
        )
        w = Window.orderBy(time_col).rowsBetween(-p, -1)
        scored = fold.withColumn("__pred", F.avg(value_col).over(w)).filter(
            (F.col("__role") == "v") & F.col("__pred").isNotNull()
        )
        m = scored.agg(mae(F.col("__pred"), F.col(value_col)).alias("m")).first()["m"]
        if m is not None:
            scores.append(float(m))
    return sum(scores) / len(scores)


def ablation(
    df: DataFrame,
    feature_groups: dict[str, list[str]],
    scorer: Scorer,
) -> dict[str, float]:
    """M16: re-score with each feature group dropped (plus 'none')."""
    out = {"none": scorer(df)}
    for name, cols in feature_groups.items():
        out[f"drop_{name}"] = scorer(df.drop(*cols))
    return out


def sensitivity_sweep(
    df: DataFrame,
    param_grid: list[dict],
    scorer_for: Callable[[dict], Scorer],
) -> list[tuple[dict, float]]:
    """M17: score every configuration in the grid (the reference sweeps
    (P,D,Q) ± 5 around the optimum)."""
    return [(params, scorer_for(params)(df)) for params in param_grid]


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

    import numpy as np

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


def permutation_importance(
    df: DataFrame,
    feature_cols: list[str],
    scorer: Scorer,
) -> dict[str, float]:
    """M15 analog: importance(c) = score with column c shuffled − base
    score.  The shuffle is a rank-based value permutation — distributed,
    deterministic under the fixed seed 42 (content-hash ordering)."""
    base = scorer(df)
    out: dict[str, float] = {}
    keyed = df.withColumn(
        "__rid", F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
    )
    n = keyed.count()
    for c in feature_cols:
        # permute by joining values back on a hashed rank
        perm = (
            keyed.select(
                F.col(c).alias("__v"),
                F.row_number()
                .over(Window.orderBy(F.md5(F.concat_ws("|", F.lit(42), F.lit(c), "__rid"))))
                .alias("__prid"),
            )
        )
        shuffled = (
            keyed.drop(c)
            .join(perm, F.col("__rid") == F.col("__prid"))
            .withColumnRenamed("__v", c)
            .drop("__prid")
        )
        out[c] = scorer(shuffled.drop("__rid")) - base
    return out
