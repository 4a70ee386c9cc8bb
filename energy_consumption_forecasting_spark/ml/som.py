"""Self-organizing map (Kohonen SOM) — batch algorithm, Spark-shaped.

Reference parity note: the reference's SOM notebook
(`src/notebooks/unsupervised/ts_SOM_base.ipynb`) is absent from the
snapshot (`.MISSING_LARGE_BLOBS:4`), so this implements the PUBLIC
batch-SOM algorithm (Kohonen 2001, ch. 3.6) over the same monthly
demand series the other unsupervised notebooks cluster — closing the
last "missing" row of the r3 verdict at standard-algorithm fidelity.

Distributed shape — the batch formulation, not the sequential one:
per epoch,

1. ASSIGN: each series finds its best-matching unit (BMU) against the
   k×L codebook riding a broadcast — an Arrow-batched ``mapInPandas``,
   row-local, no shuffle of the codebook;
2. REDUCE: per-BMU vector sums and counts (``applyInPandas`` per BMU —
   k groups, each emitting one (L+1)-vector);
3. BLEND (driver, O(k²·L) on KB-sized state): every unit's new weight
   is the neighborhood-kernel average of the BMU statistics,
   ``W_j = Σ_b h_σ(j,b)·S_b / Σ_b h_σ(j,b)·C_b`` with the Gaussian
   grid kernel ``h_σ(j,b) = exp(-d_grid(j,b)² / (2σ²))`` and σ
   annealing linearly to ~0.5 over the epochs.

The sequential SOM's per-sample updates are order-dependent; the batch
form is deterministic given the init (seeded first-k rows, same
convention as ml/clustering.py) and independent of partitioning —
every quantity that crosses the wire is a sum.  Series never leave the
executors; only k (L+1)-vectors return to the driver per epoch.

At 100 TB: the assign pass is a broadcast-map over the corpus (scan
speed), the reduce is one k-group aggregation, and the blend is
constant work — the classic "statistics to the driver, model to the
executors" iterative shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _grid_coords(gx: int, gy: int) -> np.ndarray:
    """(k, 2) integer grid coordinates, row-major."""
    return np.array([(i, j) for i in range(gx) for j in range(gy)], float)


def som_fit(
    series_df: DataFrame,
    grid: tuple[int, int] = (3, 2),
    n_iter: int = 8,
) -> tuple[dict, np.ndarray]:
    """Fit a ``grid`` SOM to equal-length ``(series_id, series)`` rows;
    the neighbourhood radius decays from half the longer grid side.

    Returns ``({series_id: (row, col)}, codebook[k, L])`` with the
    final assignment computed against the final codebook."""
    gx, gy = grid
    k = gx * gy
    spark = series_df.sparkSession
    coords = _grid_coords(gx, gy)
    sigma0 = max(gx, gy) / 2.0

    first = (
        series_df.select("series_id", "series")
        .orderBy("series_id")
        .limit(k)
        .collect()
    )
    if len(first) < k:
        raise ValueError(f"need >= {k} series to seed a {gx}x{gy} SOM")
    codebook = np.asarray([list(r["series"]) for r in first], dtype=np.float64)

    assign_schema = T.StructType(
        [
            T.StructField("series_id", series_df.schema["series_id"].dataType),
            T.StructField("series", T.ArrayType(T.DoubleType())),
            T.StructField("bmu", T.IntegerType()),
        ]
    )
    stat_schema = T.StructType(
        [
            T.StructField("bmu", T.IntegerType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def _assigned_for(bc):
        def assign(batches):
            W = bc.value
            for pdf in batches:
                out = []
                for s in pdf["series"]:
                    x = np.asarray(s, dtype=np.float64)
                    out.append(int(np.argmin(((W - x) ** 2).sum(axis=1))))
                yield pd.DataFrame(
                    {
                        "series_id": pdf["series_id"],
                        "series": pdf["series"],
                        "bmu": out,
                    }
                )

        return series_df.select("series_id", "series").mapInPandas(
            assign, schema=assign_schema
        )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bmu"].iloc[0])
        X = np.stack([np.asarray(s, dtype=np.float64) for s in pdf["series"]])
        return pd.DataFrame(
            {"bmu": [b], "s": [X.sum(axis=0).tolist()], "cnt": [len(X)]}
        )

    for it in range(n_iter):
        bc = spark.sparkContext.broadcast(codebook)
        rows = (
            _assigned_for(bc)
            .groupBy("bmu")
            .applyInPandas(stats, schema=stat_schema)
            .collect()
        )
        S = np.zeros_like(codebook)
        C = np.zeros(k)
        for r in rows:
            S[r["bmu"]] = np.asarray(r["s"])
            C[r["bmu"]] = r["cnt"]
        # linear sigma anneal down to 0.2: early epochs order the map
        # (wide kernel), late epochs approach per-BMU means (the
        # convergence phase — at sigma=0.2 the neighbor weight is
        # exp(-12.5), so final codebooks are ~cluster means)
        sigma = sigma0 + (0.2 - sigma0) * (it / max(n_iter - 1, 1))
        d2 = ((coords[:, None, :] - coords[None, :, :]) ** 2).sum(axis=2)
        H = np.exp(-d2 / (2.0 * sigma * sigma))  # (k, k)
        num = H @ S  # (k, L)
        den = H @ C  # (k,)
        # units whose whole neighborhood is empty keep their weights
        nonzero = den > 0
        codebook = np.where(
            nonzero[:, None], num / np.maximum(den, 1e-300)[:, None], codebook
        )

    bc = spark.sparkContext.broadcast(codebook)
    assignment = {
        r["series_id"]: (int(r["bmu"]) // gy, int(r["bmu"]) % gy)
        for r in _assigned_for(bc).select("series_id", "bmu").collect()
    }
    return assignment, codebook
