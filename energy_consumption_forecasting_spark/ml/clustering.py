"""Time-series clustering — SURVEY §2.7 M5 (time-series k-means with
DTW, k-Shape).

Reference: TimeSeriesKMeans (n_clusters, metric="dtw")
(ts_kmeans_base.ipynb:1942-1944,2023-2025).  M3 PCA and M6 silhouette
live with their queries (queries/ml_queries.py::_pca_fit_frame and
::silhouette_frame).

The series are the reference's monthly windows — at most 105 — so each
fit here (k-medoids, DBA k-means, k-Shape) is numpy over the whole set,
which its query runs in one task (operators/single_task.py).  Only the
DTW distance matrix is computed distributed (one pandas-UDF task per
series-pair block), per SURVEY §4.2.6."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dtw(a: np.ndarray, b: np.ndarray) -> float:
    """Classic O(len²) dynamic-programming DTW distance."""
    n, m = len(a), len(b)
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        cost = np.abs(a[i - 1] - b)
        for j in range(1, m + 1):
            D[i, j] = cost[j - 1] + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
    return float(D[n, m])


def dtw_distance_matrix(series_df: DataFrame) -> DataFrame:
    """Pairwise DTW distances, computed distributed.

    ``series_df``: (series_id: any, series: array<double>).  The pair
    table is a self-join on id< id (each pair one row), and the DP
    runs in an Arrow-batched grouped map keyed on a block id so work
    spreads across executors in blocks, not one task per pair."""
    pairs = (
        series_df.alias("a")
        .join(series_df.alias("b"), F.col("a.series_id") < F.col("b.series_id"))
        .select(
            F.col("a.series_id").alias("id_a"),
            F.col("b.series_id").alias("id_b"),
            F.col("a.series").alias("s_a"),
            F.col("b.series").alias("s_b"),
        )
        .withColumn("block", F.crc32(F.concat_ws(",", "id_a", "id_b")) % 64)
    )
    schema = T.StructType(
        [
            T.StructField("id_a", pairs.schema["id_a"].dataType),
            T.StructField("id_b", pairs.schema["id_b"].dataType),
            T.StructField("dtw", T.DoubleType()),
        ]
    )

    def block_dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, r in pdf.iterrows():
            out.append(
                {
                    "id_a": r["id_a"],
                    "id_b": r["id_b"],
                    "dtw": _dtw(
                        np.asarray(r["s_a"], dtype=np.float64),
                        np.asarray(r["s_b"], dtype=np.float64),
                    ),
                }
            )
        return pd.DataFrame(out, columns=["id_a", "id_b", "dtw"])

    return pairs.groupBy("block").applyInPandas(block_dtw, schema=schema)


def kmedoids_rows(rows, k: int = 12) -> dict:
    """k-medoids over (id_a, id_b, dtw) mapping rows — pure Python/
    numpy, callable on the driver OR inside an executor fold.  Seeded
    medoid init (seed 42), at most 20 swap rounds.  An empty cluster
    re-seeds its medoid from the worst-fit non-medoid series (the
    k-Shape repair below)."""
    ids = sorted({r["id_a"] for r in rows} | {r["id_b"] for r in rows})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    D = np.zeros((n, n))
    for r in rows:
        i, j = idx[r["id_a"]], idx[r["id_b"]]
        D[i, j] = D[j, i] = r["dtw"]
    rng = np.random.RandomState(42)
    medoids = rng.choice(n, size=min(k, n), replace=False)
    for _ in range(20):
        labels = np.argmin(D[:, medoids], axis=1)
        new_medoids = medoids.copy()
        for c in range(len(medoids)):
            members = np.where(labels == c)[0]
            if len(members):
                costs = D[np.ix_(members, members)].sum(axis=1)
                new_medoids[c] = members[int(np.argmin(costs))]
            else:
                fit = D[np.arange(n), medoids[labels]]
                fit[new_medoids] = -np.inf
                new_medoids[c] = int(np.argmax(fit))
        if (new_medoids == medoids).all():
            break
        medoids = new_medoids
    labels = np.argmin(D[:, medoids], axis=1)
    return {ids[i]: int(labels[i]) for i in range(n)}


# --- TimeSeriesKMeans with DBA centroids (closes the r2 M5 substitution gap) -----
def _dtw_path(a: np.ndarray, b: np.ndarray) -> list[tuple[int, int]]:
    """DTW alignment path (i, j) pairs for the optimal warping of a→b."""
    n, m = len(a), len(b)
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        cost = np.abs(a[i - 1] - b)
        for j in range(1, m + 1):
            D[i, j] = cost[j - 1] + min(
                D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]
            )
    path = []
    i, j = n, m
    while i > 0 and j > 0:
        path.append((i - 1, j - 1))
        step = int(
            np.argmin([D[i - 1, j - 1], D[i - 1, j], D[i, j - 1]])
        )
        if step == 0:
            i, j = i - 1, j - 1
        elif step == 1:
            i -= 1
        else:
            j -= 1
    return path[::-1]


def _dba(series: list[np.ndarray], init: np.ndarray, iters: int = 5) -> np.ndarray:
    """DTW Barycenter Averaging (Petitjean, Ketterlin & Gançarski,
    Pattern Recognition 44(3), 2011): repeat {align every series to the
    current barycenter, average the values warped onto each barycenter
    position}.  The tslearn centroid update the reference uses
    (TimeSeriesKMeans(metric="dtw"))."""
    center = init.astype(np.float64).copy()
    for _ in range(iters):
        sums = np.zeros(len(center))
        counts = np.zeros(len(center))
        for s in series:
            for j, i in _dtw_path(s, center):
                sums[i] += s[j]
                counts[i] += 1
        mask = counts > 0
        center[mask] = sums[mask] / counts[mask]
    return center


def tskmeans_dba(
    series: dict, k: int, n_iter: int
) -> tuple[dict, np.ndarray]:
    """TimeSeriesKMeans(metric="dtw") with true DBA centroid updates
    over bounded series (reference scale: ≤105 monthly sub-series).
    ``series``: {series_id: np.ndarray}, equal lengths (the reference's
    monthly windows are).  Series and cluster members are taken in
    series_id order, so the fit does not depend on input order.

    Initialization: the first k series by id.  Each of ``n_iter``
    rounds assigns every series to its DTW-nearest centroid, then
    moves each non-empty cluster's centroid by 3 DBA rounds started
    from the old one.  The returned labels are a final assignment
    against the returned centroids (tslearn-consistent).  Returns
    ({series_id: cluster}, centroids array)."""
    ids = sorted(series)
    X = [np.asarray(series[i], dtype=np.float64) for i in ids]
    centroids = np.array(X[:k])

    def assign() -> np.ndarray:
        return np.array(
            [int(np.argmin([_dtw(x, c) for c in centroids])) for x in X],
            dtype=int,
        )

    for _ in range(n_iter):
        labels = assign()
        for c in range(len(centroids)):
            members = [X[i] for i in np.flatnonzero(labels == c)]
            if members:
                centroids[c] = _dba(members, centroids[c], iters=3)
    labels = assign()
    return {ids[i]: int(labels[i]) for i in range(len(ids))}, centroids


# --- k-Shape clustering (Paparrizos & Gravano, SIGMOD 2015) ----------------------
def _znorm(x: np.ndarray) -> np.ndarray:
    s = x.std()
    return (x - x.mean()) / s if s > 0 else x - x.mean()


def _ncc_max(a: np.ndarray, b: np.ndarray) -> tuple[float, int]:
    """Max coefficient-normalized cross-correlation over all shifts and
    the argmax shift (b rolled by +shift aligns to a).  Inputs need not
    be z-normalized; the coefficient normalization handles scale."""
    denom = np.linalg.norm(a) * np.linalg.norm(b)
    if denom == 0:
        return 0.0, 0
    cc = np.correlate(a, b, mode="full") / denom
    w = int(np.argmax(cc))
    return float(cc[w]), w - (len(b) - 1)


def _sbd(a: np.ndarray, b: np.ndarray) -> float:
    """Shape-based distance: 1 − max_w NCC_c(a, b) ∈ [0, 2]; 0 for any
    shift of a scaled copy."""
    return 1.0 - _ncc_max(a, b)[0]


def _align_to(ref: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Roll x by the NCC-optimal shift against ref (zero fill)."""
    _, shift = _ncc_max(ref, x)
    out = np.zeros_like(x)
    if shift >= 0:
        out[shift:] = x[: len(x) - shift]
    else:
        out[:shift] = x[-shift:]
    return out


def _shape_extraction(X: np.ndarray, ref: np.ndarray) -> np.ndarray:
    """k-Shape centroid: members aligned to the current centroid, then
    the dominant eigenvector of the centered Gram matrix (the paper's
    Rayleigh-quotient maximizer of summed squared NCC)."""
    A = np.vstack([_align_to(ref, x) for x in X])
    m = A.shape[1]
    Q = np.eye(m) - np.ones((m, m)) / m
    M = Q @ (A.T @ A) @ Q
    vals, vecs = np.linalg.eigh(M)
    c = vecs[:, -1]
    # eigenvector sign is arbitrary — orient toward the member mass
    if np.linalg.norm(A[0] - c) > np.linalg.norm(A[0] + c):
        c = -c
    return _znorm(c)


def kshape(series: dict, k: int = 4, seed: int = 42) -> dict:
    """Driver-side k-Shape over bounded series (reference scale: ≤105
    monthly sub-series).  ``series``: {id: np.ndarray}, equal lengths
    (zero-pad shorter months).  Returns {"labels": {id: c},
    "centroids": [np.ndarray]}, after at most 20 refinement rounds.
    Deterministic under the seed; empty
    clusters re-seed from the farthest series (standard k-Shape
    repair)."""
    ids = sorted(series)
    X = [_znorm(np.asarray(series[i], dtype=np.float64)) for i in ids]
    n = len(X)
    rng = np.random.RandomState(seed)
    labels = rng.randint(0, k, size=n)
    centroids = [np.zeros_like(X[0]) for _ in range(k)]
    for _ in range(20):
        for c in range(k):
            members = [X[i] for i in range(n) if labels[i] == c]
            if members:
                ref = centroids[c] if np.any(centroids[c]) else members[0]
                centroids[c] = _shape_extraction(members, ref)
        new = np.array(
            [
                int(np.argmin([_sbd(centroids[c], x) for c in range(k)]))
                for x in X
            ]
        )
        # re-seed empty clusters with the worst-fit series
        for c in range(k):
            if not (new == c).any():
                dists = np.array(
                    [_sbd(centroids[new[i]], X[i]) for i in range(n)]
                )
                far = int(np.argmax(dists))
                new[far] = c
        if (new == labels).all():
            break
        labels = new
    return {
        "labels": {ids[i]: int(labels[i]) for i in range(n)},
        "centroids": centroids,
    }
