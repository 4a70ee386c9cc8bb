"""Streaming W18 disaggregation twin: multi-batch drain == batch query.

The additive DECIMAL day-state makes the final drained frame identical
under any batch split; this stages the orders table as 4 separate
parquet chunks with pinned strictly-increasing mtimes (file-source
arrival is modification-time order) and forces maxFilesPerTrigger=1 so
the state really folds across 4 micro-batches.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _stage_split(spark, split_dir, n_chunks: int = 4) -> str:
    split_dir = str(split_dir)
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").orderBy(
        "o_orderkey"
    )
    pdf = orders.toPandas()
    k = len(pdf) // n_chunks
    os.makedirs(split_dir, exist_ok=True)
    for i in range(n_chunks):
        part = pdf.iloc[i * k : None if i == n_chunks - 1 else (i + 1) * k]
        spark.createDataFrame(part, orders.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{split_dir}/chunk={i:03d}")
    flat = os.path.join(split_dir, "flat")
    os.makedirs(flat, exist_ok=True)
    idx = 0
    base = time.time() - 3600
    for root, _dirs, files in sorted(os.walk(split_dir)):
        for f in sorted(files):
            if f.endswith(".parquet") and root != flat:
                dst = f"{flat}/{idx:03d}.parquet"
                shutil.copy(os.path.join(root, f), dst)
                os.utime(dst, (base + 60 * idx, base + 60 * idx))
                idx += 1
    assert idx == n_chunks
    return flat


def _batch_daily(spark, orders_path: str):
    return (
        spark.read.parquet(orders_path)
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("demand")
        )
    )


def test_multibatch_daily_state_equals_batch(spark, tmp_path):
    flat = _stage_split(spark, tmp_path)
    from energy_consumption_forecasting_spark.streaming.disagg_stream import (
        run_disagg_daily_available_now,
    )

    got = {
        (r["d"], str(r["demand"]))
        for r in run_disagg_daily_available_now(
            spark, flat, glob="*.parquet", max_files_per_trigger=1
        ).collect()
    }
    want = {
        (r["d"], str(r["demand"]))
        for r in _batch_daily(spark, flat).collect()
    }
    assert got == want and len(got) > 0


def test_stream_twin_equals_batch_query(spark):
    """End-to-end: the registered streaming twin emits exactly the batch
    flagship's rows at sf0.001 (single-file source; the multi-batch fold
    is covered above)."""
    from energy_consumption_forecasting_spark.queries import load_all

    qs, oracles = load_all()
    assert oracles["stream_w18_disaggregation"] == oracles["w18_disaggregation"]
    got = {
        (str(r["d"]), r["day_share"], r["daily_consumption"])
        for r in qs["stream_w18_disaggregation"](spark, SF_SMALL).collect()
    }
    want = {
        (str(r["d"]), r["day_share"], r["daily_consumption"])
        for r in qs["w18_disaggregation"](spark, SF_SMALL).collect()
    }
    assert got == want and len(got) > 0
