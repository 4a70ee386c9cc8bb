"""Persisted ANN index — build once, query many.

The missing lifecycle piece around operators/ann.py: a production
similarity service does not re-train the quantizers per query.  The
index is two artifacts:

* ``codes/`` — parquet of (vec_id, code[, cell]): the compressed
  corpus, written distributed, re-read with column pruning and (for
  IVF) cell-partition pruning;
* ``meta.json`` — the KB-sized quantizers (PQ codebooks, OPQ rotation,
  IVF centroids, SQ8 ranges, shape params).

Layout intentionally mirrors the FAISS split (big codes / small
metadata), expressed as parquet + JSON so any Spark session — or any
other engine — can read it back.

There is one quantizer implementation: the lazy fit frames of
operators/ann.py.  ``build_ann_index`` collects each 1-row fit once into
``meta.json``; everything downstream turns ``meta.json`` back into 1-row
fit frames (``_fit_frames``).  ``encode_with_meta`` is the only encoder
into an index (the batch build and streaming/ann_ingest.py both call
it, so streamed codes equal batch codes by construction), and
``search_ann_index`` runs the lazy searchers
(``pq_topk_table_lazy``, ``sq8_topk_lazy``, ``sq8_ivf_topk_lazy``) with
the query side a DataFrame end-to-end.

Scale notes: codes are written ``partitionBy("cell")`` when an IVF
quantizer is present, so a probe-limited search prunes whole partitions
at the scan (PartitionFilters, not a post-filter).  At 100 TB of
vectors the codes table is ~N × (8 bytes + id) — the only corpus-sized
artifact; everything else rides a 1-row broadcast.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fit_frames(spark: SparkSession, meta: dict) -> dict[str, DataFrame]:
    """``meta.json`` quantizers as the 1-row fit frames the lazy
    operators attach: ``ivf`` (centroids), ``sq8`` (mn, mx), ``pq``
    (books) and ``opq`` (rt).  Values round-trip exactly (JSON floats
    are shortest-repr doubles)."""
    fits = {}
    if meta.get("centroids") is not None:
        fits["ivf"] = spark.createDataFrame(
            [(meta["centroids"],)], "centroids array<array<double>>"
        )
    if meta.get("kind") == "sq8":
        fits["sq8"] = spark.createDataFrame(
            [(meta["mins"], meta["maxs"])], "mn array<double>, mx array<double>"
        )
        return fits
    fits["pq"] = spark.createDataFrame(
        [(meta["codebooks"],)], "books array<array<array<double>>>"
    )
    if meta.get("rotation") is not None:
        # meta keeps R (x·R); the rt column holds the COLUMNS of R
        fits["opq"] = spark.createDataFrame(
            [(np.asarray(meta["rotation"], dtype=np.float64).T.tolist(),)],
            "rt array<array<double>>",
        )
    return fits


def encode_with_meta(batch: DataFrame, meta: dict) -> DataFrame:
    """(vec_id, code[, cell]) for a batch of (vec_id, v) vectors under
    the index's FROZEN quantizers — in-plan HOF encoders over 1-row fit
    frames built from ``meta``.  PQ codes are taken on the OPQ-rotated
    vector when the index has a rotation; IVF cells always on the RAW
    vector (the search probes with the un-rotated query).  SQ8 values
    outside the frozen ranges clip, like FAISS SQ on drifted data."""
    from ..operators.ann import (
        ivf_assign_lazy,
        opq_rotate_lazy,
        pq_encode_lazy,
        sq8_encode_lazy,
    )

    fits = _fit_frames(batch.sparkSession, meta)
    key = "vec_id"
    if "ivf" in fits:
        # the cell rides through the code encoders inside the row key,
        # so each row's code and cell come from one projection — no
        # join back on vec_id (ids may repeat within a batch)
        key = "key"
        batch = ivf_assign_lazy(batch, fits["ivf"]).select(
            F.struct("vec_id", "cell").alias(key), "v"
        )
    if "sq8" in fits:
        encoded = sq8_encode_lazy(batch, fits["sq8"], id_col=key)
    else:
        if "opq" in fits:
            batch = opq_rotate_lazy(batch, fits["opq"], id_col=key)
        encoded = pq_encode_lazy(batch, fits["pq"], m=meta["m"], id_col=key)
    if "ivf" in fits:
        return encoded.select("key.vec_id", "code", "key.cell")
    return encoded.select("vec_id", "code")


def build_ann_index(
    emb: DataFrame,
    index_dir: str,
    m: int = 8,
    k: int = 16,
    n_cells: int | None = 16,
    opq: bool = False,
    kind: str = "pq",
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Train quantizers, persist them, encode the corpus.

    ``kind="pq"`` (default) stores m-byte PQ codes; ``kind="sq8"``
    stores per-dimension uint8 scalar-quantized codes — the
    deterministic tier (exact min/max quantizer, Catalyst-only
    encode), same codes/meta.json layout.  Each quantizer is the lazy
    fit frame the sim_* queries use, collected once; the IVF centroids
    train on a FIT_SAMPLE-row sample, so ``n_cells`` may not exceed
    FIT_SAMPLE."""
    from ..operators.ann import (
        FIT_SAMPLE,
        ivf_fit_frame,
        opq_fit_frame,
        pq_fit_frame,
        sq8_fit_frame,
    )

    if n_cells and n_cells > FIT_SAMPLE:
        raise ValueError(
            f"n_cells={n_cells} exceeds the {FIT_SAMPLE}-row IVF training sample"
        )
    if kind == "sq8":
        if opq:
            raise ValueError("OPQ rotation applies to the PQ tier only")
        fit = sq8_fit_frame(emb, vec_col=vec_col).first()
        meta = {"kind": "sq8", "mins": fit["mn"], "maxs": fit["mx"],
                "n_cells": n_cells}
    elif kind == "pq":
        meta = {"kind": "pq", "m": m, "k": k, "opq": opq, "n_cells": n_cells}
        if opq:
            fit = opq_fit_frame(emb, vec_col, id_col, m=m, k=k).first()
            meta["rotation"] = np.asarray(fit["rt"]).T.tolist()
        else:
            fit = pq_fit_frame(emb, vec_col, id_col, m=m, k=k).first()
        meta["codebooks"] = fit["books"]
    else:
        raise ValueError(f"unknown index kind {kind!r}")
    if n_cells:
        meta["centroids"] = ivf_fit_frame(
            emb, vec_col, id_col, n_cells=n_cells
        ).first()["centroids"]

    vectors = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    encoded = encode_with_meta(vectors, meta).withColumnRenamed("vec_id", id_col)
    w = encoded.write.mode("overwrite")
    if n_cells:
        w = w.partitionBy("cell")
    w.parquet(os.path.join(index_dir, "codes"))
    # meta.json last: a failed build never leaves quantizers that
    # describe codes which were not written
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_ann_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, dict]:
    """(codes df, meta as parsed from ``meta.json``)."""
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    return codes, meta


def search_ann_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k_neighbors: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Top-k against a persisted index; queries stay a DataFrame.

    PQ indexes score via ADC table lookups; SQ8 indexes decode the
    probed cells and rescore asymmetrically (raw query vs
    reconstructed corpus)."""
    from ..operators.ann import (
        pq_topk_table_lazy,
        sq8_ivf_topk_lazy,
        sq8_topk_lazy,
    )

    codes, meta = load_ann_index(spark, index_dir)
    fits = _fit_frames(spark, meta)
    if "sq8" in fits:
        encoded = codes.crossJoin(F.broadcast(fits["sq8"]))
        if "ivf" in fits:
            out = sq8_ivf_topk_lazy(
                encoded, queries, fits["ivf"], k=k_neighbors, nprobe=nprobe,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            out = sq8_topk_lazy(
                encoded, queries, k=k_neighbors, id_col=id_col, vec_col=vec_col
            )
        return out.withColumnRenamed("neighbor_id", id_col)
    return pq_topk_table_lazy(
        codes,
        queries,
        fits["pq"],
        k_neighbors=k_neighbors,
        id_col=id_col,
        vec_col=vec_col,
        ivf_fit=fits.get("ivf"),
        opq_fit=fits.get("opq"),
        nprobe=nprobe,
    )
