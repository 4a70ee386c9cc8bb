"""Approximate nearest neighbor operators over embedding columns.

Two families, both DataFrame-in / DataFrame-out:

* **Blocked exact top-k** (``topk_blocked``) — corpus and query rows
  packed into matrix blocks, one BLAS kernel per block pair against a
  broadcast query side, exact sequential-fold rescoring of the kept
  candidates.  The verification baseline for the quantized tiers.
* **Quantized ANN** — IVF coarse cells, PQ/ADC codes, OPQ rotation and
  SQ8 scalar codes.  Every quantizer is a LAZY 1-row fit frame
  (``*_fit_frame``) attached to corpus and query plans by a 1-row
  broadcast crossJoin; encoders (``ivf_assign_lazy``,
  ``opq_rotate_lazy``, ``pq_encode_lazy``, ``sq8_encode_lazy``) and
  searchers (``ivf_search_lazy``, ``pq_topk_table_lazy``,
  ``sq8_topk_lazy``, ``sq8_ivf_topk_lazy``) read the fit from columns,
  so building a plan launches no job.  The registered ``sim_*`` queries
  (queries/similarity.py) share this one code path.

Random-hyperplane LSH lives with its queries
(queries/similarity.py::sim_lsh_hyperplane).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import single_task


# --- blocked query-table path (no driver collect) -------------------------------
#
# The r2 registry shipped the matmul/PQ tiers with driver-collected
# query sets (`.collect()` into plan literals / broadcast variables) —
# bounded at Q=5 but the wrong shape the moment the query set is a
# TABLE.  The blocked path keeps BOTH sides as DataFrames end-to-end:
#
#   pack corpus rows into matrix blocks (one row per Arrow batch)
#   pack query rows into matrix blocks
#   corpus_blocks CROSS JOIN broadcast(query_blocks)   <- plan shows a
#       BroadcastNestedLoopJoin over block COUNTS, not row counts
#   one BLAS kernel per block pair, per-pair top-k prune
#   global per-query top-k window
#
# Block-pair fan-out is (N/B)·(Q/B) rows each carrying its payload
# once, so the Arrow transfer is the data itself, not data × queries.
# Scales to a query TABLE: the query side stops being special — at
# large Q drop the broadcast hint and let AQE pick the join.


def pack_blocks(
    df: DataFrame,
    rows_per_block: int = 4096,
    prefix: str = "",
) -> DataFrame:
    """Pack (vec_id, v) rows into matrix blocks: one output row per
    chunk of ``rows_per_block`` inside each Arrow batch —
    (ids array<long>, vecs array<array<double>>)."""
    ids_c, vecs_c = f"{prefix}ids", f"{prefix}vecs"

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), rows_per_block):
                chunk = pdf.iloc[lo : lo + rows_per_block]
                if not len(chunk):
                    continue
                yield pd.DataFrame(
                    {
                        ids_c: [chunk["vec_id"].tolist()],
                        vecs_c: [chunk["v"].tolist()],
                    }
                )

    schema = T.StructType(
        [
            T.StructField(ids_c, T.ArrayType(T.LongType())),
            T.StructField(vecs_c, T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    return df.select("vec_id", "v").mapInPandas(pack, schema=schema)


def _topk_window(partial: DataFrame, k: int, order_col: str, asc: bool,
                 id_col: str) -> DataFrame:
    from pyspark.sql import Window

    key = F.col(order_col) if asc else F.col(order_col).desc()
    w = Window.partitionBy("query_id").orderBy(key, id_col)
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def topk_blocked(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact cosine top-k with a query TABLE — blocked matmul join.

    Returns (query_id, neighbor_id, cos_sim, rank); self-matches
    (same id) are excluded, matching sim_topk_bruteforce semantics."""
    eb = pack_blocks(emb, rows_per_block, prefix="e_")
    qb = pack_blocks(queries, rows_per_block, prefix="q_")
    pairs = eb.crossJoin(F.broadcast(qb))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                E = np.stack(row["e_vecs"]).astype(np.float64)
                Q = np.stack(row["q_vecs"]).astype(np.float64)
                eids = np.asarray(row["e_ids"], dtype=np.int64)
                qids = np.asarray(row["q_ids"], dtype=np.int64)
                En = E / np.linalg.norm(E, axis=1, keepdims=True)
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                S = En @ Qn.T  # (blockN, blockQ) — selection only
                out_q, out_n, out_s = [], [], []
                kk = min(k + 1, S.shape[0])
                # Selection boundary: BLAS cosines can differ from the
                # sequential-fold rescoring in the last ULP, and exact
                # duplicates tie at the boundary. Keep EVERY candidate
                # within a small slack of the kk-th BLAS value so the
                # final deterministic window (cos DESC, neighbor ASC)
                # sees all contenders; rescoring below is exact.
                thr = -np.partition(-S, kk - 1, axis=0)[kk - 1]  # (blockQ,)

                # Exact rescoring of the selected candidates: BLAS picks
                # the top-k, but its pairwise-summed dot products differ
                # from the engines' sequential fold in the last ULP —
                # recompute each kept pair left-to-right (k·Q pairs per
                # block, negligible) so emitted cosines are bit-equal to
                # the fold/oracle algebra: dot/(sqrt(na)·sqrt(nb)).
                def seq_dot(a, b):
                    acc = 0.0
                    for x, y in zip(a.tolist(), b.tolist()):
                        acc += x * y
                    return acc

                enorm = {}
                for j in range(S.shape[1]):
                    qv = Q[j]
                    qn = math.sqrt(seq_dot(qv, qv))
                    cand = np.nonzero(S[:, j] >= thr[j] - 1e-12)[0]
                    for i in cand:
                        if eids[i] != qids[j]:
                            if i not in enorm:
                                enorm[i] = math.sqrt(seq_dot(E[i], E[i]))
                            out_q.append(int(qids[j]))
                            out_n.append(int(eids[i]))
                            out_s.append(
                                seq_dot(E[i], qv) / (qn * enorm[i])
                            )
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
                )

    partial = pairs.mapInPandas(kernel, schema=schema)
    return _topk_window(partial, k, "cos_sim", asc=False, id_col="neighbor_id")


def pack_code_blocks(encoded: DataFrame, cell_col: str | None = None) -> DataFrame:
    """Pack PQ codes (and optionally IVF cell ids) into blocks of 8192
    rows."""
    cols = {"e_ids": "vec_id", "e_codes": "code"}
    if cell_col:
        cols["e_cells"] = cell_col

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), 8192):
                chunk = pdf.iloc[lo : lo + 8192]
                if not len(chunk):
                    continue
                yield pd.DataFrame(
                    {out: [chunk[src].tolist()] for out, src in cols.items()}
                )

    fields = [
        T.StructField("e_ids", T.ArrayType(T.LongType())),
        T.StructField("e_codes", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ]
    if cell_col:
        fields.append(T.StructField("e_cells", T.ArrayType(T.IntegerType())))
    sel = ["vec_id", "code"] + ([cell_col] if cell_col else [])
    return encoded.select(*sel).mapInPandas(
        pack, schema=T.StructType(fields)
    )


# --- LAZY fit frames (r10 purity item) ---------------------------------------------
#
# The r9 PCA scalar-attach pattern generalized to the quantized ANN
# tiers: each trainer becomes a LAZY 1-row DataFrame (the fit) computed
# by a bounded single-partition fold over a deterministic sorted sample
# (or, for SQ8, an exact in-plan aggregate), and attaches to corpus /
# query plans via 1-row broadcast crossJoin.  The registered sim_*
# queries build end-to-end lazy plans — constructing them launches
# ZERO jobs.  Execution-time users (bounded eval collects) go through
# the same frames, so there is one quantizer implementation.
#
# Solver note: the IVF fit runs a seeded numpy Lloyd on the sorted
# sample instead of MLlib KMeans (whose .fit() is irreducibly eager).
# All IVF-tier queries are rows-only BY DESIGN (centroids are
# solver-shaped); the hash-checked gates (sim_tier_eval) re-derive
# centroids/codebooks by collecting the SAME fit frames, so gate and
# query can never disagree about the quantizer.

FIT_SAMPLE = 2048


def _ann_sample(emb: DataFrame) -> DataFrame:
    """Deterministic training sample: sorted by id, first FIT_SAMPLE —
    identical row set AND order on every run/engine (a bare .limit() is
    plan-stable but not contractually ordered)."""
    return emb.orderBy("vec_id").limit(FIT_SAMPLE).select("v")


def _lloyd(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded numpy Lloyd — the shared k-means core of the lazy IVF/PQ
    fits.  Deterministic: seeded init draw, fixed iteration count,
    first-index argmin ties (same tie rule as np.argmin everywhere
    else in this module)."""
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = X[mask].mean(axis=0)
    return cent


def _d2_col(a, b):
    """Squared L2 distance between two array columns, in-plan."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _d2_sql(a: str, b: str) -> str:
    """The textual twin of :func:`_d2_col` — same zip_with/aggregate
    fold, parsed JVM-side (r10 construction-cost pass: each HOF lambda
    Column costs dozens of py4j round trips; an argmin over 16
    centroids × 8 subspaces built ~0.8 s of pure construction per
    query)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def ivf_fit_frame(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """The IVF coarse quantizer as a LAZY 1-row frame: sorted sample →
    single-partition numpy Lloyd fold (10 rounds, seed 42) →
    ``centroids`` (n_cells × dim).  Nothing executes until an action;
    the driver never sees a matrix."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["v"].tolist()
        if not rows:
            raise ValueError("IVF fit: empty embeddings sample")
        cent = _lloyd(np.asarray(rows, dtype=np.float64), n_cells, 10, 42)
        return pd.DataFrame(
            [{"centroids": [[float(x) for x in c] for c in cent]}]
        )

    return single_task.run(
        _ann_sample(emb), fold, "centroids array<array<double>>"
    )


def ivf_assign_lazy(emb: DataFrame, fit: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment as a Catalyst HOF argmin over
    the attached centroid array — no Python on the corpus path, no
    eager fit.  First-index min ties, matching np.argmin/MLlib."""
    at = emb.crossJoin(F.broadcast(fit))
    # One F.expr for the cell argmin (r10 — see _d2_sql).
    d2s = f"transform(centroids, c -> {_d2_sql('v', 'c')})"
    cell = F.expr(f"CAST(array_position({d2s}, array_min({d2s})) - 1 AS INT)")
    return at.withColumn("cell", cell).drop("centroids")


def ivf_probe_lazy(queries: DataFrame, fit: DataFrame, nprobe: int = 4) -> DataFrame:
    """Per-query nprobe nearest coarse cells, fully in-plan: posexplode
    the attached centroids, rank by squared distance per query."""
    from pyspark.sql import Window

    at = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(F.broadcast(fit))
        .select("query_id", "qv", F.posexplode("centroids").alias("cell", "cv"))
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    return (
        at.withColumn("d2", _d2_col(F.col("qv"), F.col("cv")))
        .withColumn("__cr", F.row_number().over(wq))
        .filter(F.col("__cr") <= nprobe)
        .select("query_id", F.col("cell").cast("int").alias("cell"), "qv")
    )


def ivf_search_lazy(
    assigned: DataFrame,
    queries: DataFrame,
    fit: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells per query, score
    the candidates, keep the per-query top-k.  The probe list comes from
    the attached fit frame (a per-query window over the posexploded
    centroids), and candidates come from a cell equi-join, so each query
    scores N · nprobe / n_cells vectors instead of N."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_prenormed, norm2

    probe = ivf_probe_lazy(queries, fit, nprobe).withColumn(
        "qnrm", F.sqrt(norm2(F.col("qv")))
    )
    cand = assigned.withColumn("nrm", F.sqrt(norm2(F.col("v")))).join(
        F.broadcast(probe), "cell"
    )
    scored = cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_prenormed(
            F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def sq8_fit_frame(emb: DataFrame) -> DataFrame:
    """The SQ8 quantizer fit as a LAZY 1-row frame: per-dimension
    min/max via posexplode → groupBy partials (map-side combine), the
    dim-ordered arrays assembled INSIDE the plan.  Unlike PQ/IVF
    codebooks these are exact order-independent aggregates (the FAISS
    ``SQ8`` recipe), so the whole tier is deterministic and
    cross-engine verifiable."""
    per_dim = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
        ).alias("mx"),
    )


def sq8_encode_lazy(emb: DataFrame, fit: DataFrame) -> DataFrame:
    """Quantize each dimension to a uint8 code: ``floor((x−mn)/(mx−mn)
    ·255 + 0.5)`` clipped to [0,255] (code 0 for degenerate dims), with
    the ranges read from attached COLUMNS — pure Catalyst, no Python,
    and the oracle mirrors the arithmetic textually.  Values outside a
    frozen range clip.  Output carries mn/mx alongside the code so the
    downstream reconstruct needs no second fit subtree; inside
    whole-stage codegen the 1-row broadcast columns are references,
    not per-row copies."""
    at = emb.crossJoin(F.broadcast(fit))

    def code(x, i):
        lo = F.element_at(F.col("mn"), i + 1)
        hi = F.element_at(F.col("mx"), i + 1)
        raw = F.floor((x - lo) / (hi - lo) * 255.0 + 0.5).cast("int")
        return F.when(
            hi > lo, F.least(F.lit(255), F.greatest(F.lit(0), raw))
        ).otherwise(F.lit(0))

    return at.select(
        "vec_id", F.transform(F.col("v"), code).alias("code"), "mn", "mx"
    )


def _sq8_reconstruct_cols(code_col):
    """Dequantize ``mn + code·(mx−mn)/255`` per dimension against mn/mx
    COLUMNS — caller's frame must carry mn/mx."""
    return F.transform(
        code_col,
        lambda c, i: F.element_at(F.col("mn"), i + 1)
        + c.cast("double")
        * (F.element_at(F.col("mx"), i + 1) - F.element_at(F.col("mn"), i + 1))
        / F.lit(255.0),
    )


def sq8_topk_lazy(
    encoded: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Asymmetric SQ8 search over an encoded frame (code+mn+mx): the RAW
    query vector scored against reconstructed corpus vectors (quantizing
    the few queries would only lose precision) — broadcast query table,
    fold-dot cosine, per-query rank window; the full-scan form."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine

    corpus = encoded.select(
        F.col("vec_id").alias("neighbor_id"),
        _sq8_reconstruct_cols(F.col("code")).alias("rv"),
    )
    q = queries_df.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    scored = corpus.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("rv")).alias("sq_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sq_sim", "rank")
    )


def sq8_ivf_topk_lazy(
    encoded_with_cell: DataFrame,
    queries_df: DataFrame,
    ivf_fit: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF + SQ8 composite: probe lists from the IVF fit frame on RAW
    query vectors (never probe in a space the assigner didn't use),
    dequantize from the carried mn/mx columns after the cell equi-join
    so only probed cells pay the decode — pruning × compression."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine

    probe = ivf_probe_lazy(queries_df, ivf_fit, nprobe)
    cand = encoded_with_cell.join(F.broadcast(probe), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), _sq8_reconstruct_cols(F.col("code"))).alias(
            "sq_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sq_sim", "rank")
    )


def _pq_train_np(
    X: np.ndarray, m: int, k: int, iters: int, seed: int
) -> np.ndarray:
    """PQ codebook training on an in-memory sample: per subspace, a
    seeded Lloyd with one rng across subspaces.  Returns (m, k, sub)."""
    n, dim = X.shape
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        cent = Xj[rng.choice(n, size=k, replace=False)]
        for _ in range(iters):
            d = ((Xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = Xj[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_fit_frame(emb: DataFrame, m: int = 8, k: int = 16) -> DataFrame:
    """PQ codebooks as a LAZY 1-row frame: sorted sample → per-subspace
    seeded Lloyd fold (10 rounds, seed 7) → ``books`` (m × k × dim/m)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["v"].tolist()
        if not rows:
            raise ValueError("PQ fit: empty embeddings sample")
        books = _pq_train_np(np.asarray(rows, dtype=np.float64), m, k, 10, 7)
        return pd.DataFrame(
            [
                {
                    "books": [
                        [[float(x) for x in c] for c in bj] for bj in books
                    ]
                }
            ]
        )

    return single_task.run(
        _ann_sample(emb), fold, "books array<array<array<double>>>"
    )


def pq_encode_lazy(emb: DataFrame, fit: DataFrame, m: int = 8) -> DataFrame:
    """PQ encode as pure Catalyst HOFs against the attached codebooks:
    per subspace, argmin of squared distance between the vector slice
    and the 16 centroids — no Arrow pass, no broadcast variable, zero
    construction jobs.  First-index ties, like np.argmin."""
    at = emb.crossJoin(F.broadcast(fit))
    # One F.expr for the whole m-subspace argmin (r10 — see _d2_sql):
    # textually the same slice/transform/array_position tree the Column
    # loop built, including the duplicated d_j subtree inside
    # array_position(d_j, array_min(d_j)) that Column reuse also
    # produced.
    sub = f"CAST(size(v) / {m} AS INT)"
    codes = []
    for j in range(m):
        sv = f"slice(v, ({j} * {sub}) + 1, {sub})"
        d_j = f"transform(element_at(books, {j + 1}), c -> {_d2_sql(sv, 'c')})"
        codes.append(
            f"CAST(array_position({d_j}, array_min({d_j})) - 1 AS INT)"
        )
    return at.select(
        "vec_id", F.expr("array(" + ", ".join(codes) + ")").alias("code")
    )


def pq_topk_table_lazy(
    encoded: DataFrame,
    queries: DataFrame,
    fit: DataFrame,
    k_neighbors: int = 5,
    ivf_fit: DataFrame | None = None,
    opq_fit: DataFrame | None = None,
    nprobe: int = 4,
) -> DataFrame:
    """ADC (asymmetric distance) search with a query TABLE: code blocks
    × broadcast query blocks; each kernel call builds the (blockQ, m, kc)
    distance tables and scores codes by m table lookups.  ``opq_fit``
    rotates the query block before the table build; ``ivf_fit``
    restricts each query to its ``nprobe`` nearest cells, probed on the
    UN-rotated query (cells are assigned on raw vectors).  The (tiny)
    query block rows carry books / centroids / rotation as attached
    columns, so the kernel reads them from its own row — no driver-held
    numpy, no broadcast variable, zero construction jobs.  The corpus
    blocks carry only ids/codes(/cells); the KB-sized fit payload rides
    the broadcast qb side once per block pair."""
    cb = pack_code_blocks(encoded, "cell" if ivf_fit is not None else None)
    qb = pack_blocks(queries, prefix="q_").crossJoin(
        F.broadcast(fit)
    )
    if ivf_fit is not None:
        qb = qb.crossJoin(F.broadcast(ivf_fit))
    if opq_fit is not None:
        qb = qb.crossJoin(F.broadcast(opq_fit.select("rt")))
    pairs = cb.crossJoin(F.broadcast(qb))
    has_cells = ivf_fit is not None
    has_rot = opq_fit is not None

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                bks = np.asarray(
                    [np.stack(bj) for bj in row["books"]], dtype=np.float64
                )
                m, kc, sub = bks.shape
                C = np.stack(row["e_codes"]).astype(np.int64)
                eids = np.asarray(row["e_ids"], dtype=np.int64)
                Q = np.stack(row["q_vecs"]).astype(np.float64)
                qids = np.asarray(row["q_ids"], dtype=np.int64)
                Qraw = Q
                if has_rot:
                    # rt rows are the COLUMNS of R, so x·R = x @ rt.T
                    Rt = np.stack(row["rt"]).astype(np.float64)
                    Q = Q @ Rt.T
                tabs = np.stack(
                    [
                        ((bks[j][None, :, :]
                          - Q[:, None, j * sub : (j + 1) * sub]) ** 2
                         ).sum(axis=2)
                        for j in range(m)
                    ],
                    axis=1,
                )
                cells = (
                    np.asarray(row["e_cells"], dtype=np.int64)
                    if has_cells
                    else None
                )
                cents = (
                    np.stack(row["centroids"]).astype(np.float64)
                    if has_cells
                    else None
                )
                out_q, out_v, out_d = [], [], []
                for qi in range(len(qids)):
                    Cq, idq = C, eids
                    if has_cells:
                        cd = ((cents - Qraw[qi]) ** 2).sum(axis=1)
                        probe = set(np.argsort(cd)[:nprobe].tolist())
                        mask = np.isin(cells, list(probe))
                        if not mask.any():
                            continue
                        Cq, idq = C[mask], eids[mask]
                    d = np.zeros(len(Cq))
                    for j in range(m):
                        d += tabs[qi, j, Cq[:, j]]
                    top = np.argsort(d, kind="stable")[:k_neighbors]
                    out_q.extend([int(qids[qi])] * len(top))
                    out_v.extend(idq[top].tolist())
                    out_d.extend(d[top].tolist())
                yield pd.DataFrame(
                    {"query_id": out_q, "vec_id": out_v, "adc_dist": out_d}
                )

    partial = pairs.mapInPandas(kernel, schema=schema)
    return _topk_window(partial, k_neighbors, "adc_dist", asc=True,
                        id_col="vec_id")


def opq_fit_frame(emb: DataFrame, m: int = 8, k: int = 16) -> DataFrame:
    """Optimized Product Quantization (Ge et al., CVPR'13) as a LAZY
    1-row frame: learn an orthogonal rotation R that redistributes
    variance across the PQ subspaces by alternating per-subspace k-means
    on the rotated sample X·R with orthogonal Procrustes (SVD of Xᵀ·Y,
    Y the quantized reconstruction; 5 alternations of 6 Lloyd rounds,
    seed 7), folded over the sorted sample.
    ``rt`` holds the COLUMNS of R (R transposed) so the
    in-plan rotation is a per-output-dim dot: rotated[d] = v · rt[d]."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["v"].tolist()
        if not rows:
            raise ValueError("OPQ fit: empty embeddings sample")
        X = np.asarray(rows, dtype=np.float64)
        n, dim = X.shape
        assert dim % m == 0, f"dim {dim} not divisible by m {m}"
        sub = dim // m
        rng = np.random.default_rng(7)
        R = np.eye(dim)

        def _km(Xj, cent):
            for _ in range(6):
                d = ((Xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d.argmin(axis=1)
                for c in range(k):
                    mask = assign == c
                    if mask.any():
                        cent[c] = Xj[mask].mean(axis=0)
            return cent

        books = np.empty((m, k, sub))
        for it in range(5):
            Xr = X @ R
            Y = np.empty_like(Xr)
            for j in range(m):
                Xj = Xr[:, j * sub : (j + 1) * sub]
                cent = (
                    Xj[rng.choice(n, size=k, replace=False)]
                    if it == 0
                    else books[j]
                )
                books[j] = _km(Xj, cent.copy())
                d = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                Y[:, j * sub : (j + 1) * sub] = books[j][d.argmin(axis=1)]
            U, _, Vt = np.linalg.svd(X.T @ Y)
            R = U @ Vt
        return pd.DataFrame(
            [
                {
                    "books": [
                        [[float(x) for x in c] for c in bj] for bj in books
                    ],
                    "rt": [[float(R[i][d]) for i in range(dim)]
                           for d in range(dim)],
                }
            ]
        )

    return single_task.run(
        _ann_sample(emb),
        fold,
        "books array<array<array<double>>>, rt array<array<double>>",
    )


def opq_rotate_lazy(emb: DataFrame, fit: DataFrame) -> DataFrame:
    """Apply the OPQ rotation in-plan: rotated[d] = v · rt[d] as a HOF
    dot per output dimension (dim² multiplies per row — the same FLOPs
    the Arrow matmul pays, without leaving the JVM)."""
    at = emb.crossJoin(F.broadcast(fit.select("rt")))
    rot = F.transform(
        F.col("rt"),
        lambda col: F.aggregate(
            F.zip_with(F.col("v"), col, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    return at.select("vec_id", rot.alias("v"))
