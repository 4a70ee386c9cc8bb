"""Streaming OHLC bars: multi-batch drain == batch query, and the
semilattice day-state merges correctly when one day's events split
across micro-batches."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _stage_split(spark, split_dir, n_chunks: int = 4) -> str:
    """ts-contiguous chunks with strictly increasing mtimes so arrival
    order == event-time order (the file source admits files in
    modification-time order).  Chunk boundaries intentionally fall
    MID-DAY, so day bars must merge partial states across batches."""
    split_dir = str(split_dir)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").orderBy(
        "ts", "event_id"
    )
    pdf = ev.toPandas()
    k = len(pdf) // n_chunks
    os.makedirs(split_dir, exist_ok=True)
    for i in range(n_chunks):
        part = pdf.iloc[i * k : None if i == n_chunks - 1 else (i + 1) * k]
        spark.createDataFrame(part, ev.schema).coalesce(1).write.mode(
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
    return flat


def _batch_truth(spark, events_path: str):
    from pyspark.sql import Window

    ev = spark.read.parquet(events_path)
    wa = Window.partitionBy(F.to_date("ts"), "event_type").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy(F.to_date("ts"), "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = ev.select(
        F.to_date("ts").alias("d"),
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_c"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    rows = (
        obs.groupBy("d", "event_type")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("v_c"))).alias("o"),
            F.max("v_c").alias("h"),
            F.min("v_c").alias("l"),
            F.max(F.when(F.col("rn_d") == 1, F.col("v_c"))).alias("c"),
            F.count("*").alias("n"),
            F.sum("v_c").alias("s"),
        )
        .collect()
    )
    return {
        (str(r["d"]), r["event_type"]): (
            r["o"], r["h"], r["l"], r["c"], r["n"], r["s"]
        )
        for r in rows
    }


def test_multibatch_equals_batch(spark, tmp_path):
    flat = _stage_split(spark, tmp_path)
    from energy_consumption_forecasting_spark.streaming.ohlc_stream import (
        run_ohlc_available_now,
    )

    got = {
        (str(r["d"]), r["event_type"]): (
            round(r["open"] * 100),
            round(r["high"] * 100),
            round(r["low"] * 100),
            round(r["close"] * 100),
            r["n_events"],
            r["volume_c"],
        )
        for r in run_ohlc_available_now(
            spark, flat, glob="*.parquet", max_files_per_trigger=1
        ).collect()
    }
    assert got == _batch_truth(spark, flat) and len(got) > 0


def test_available_now_leaves_no_checkpoint_or_view(spark, tmp_path):
    """run_ohlc_available_now must reclaim its tempdir checkpoint and
    memory-sink view (round-6 advice: repeated gate/bench invocations
    leaked one of each per call), while the returned frame stays
    readable after cleanup (lineage cut via localCheckpoint)."""
    import glob
    import tempfile

    from energy_consumption_forecasting_spark.streaming.ohlc_stream import (
        run_ohlc_available_now,
    )

    flat = _stage_split(spark, tmp_path, n_chunks=2)
    pat = os.path.join(tempfile.gettempdir(), "ecf_ohlc_ckpt_*")
    before = set(glob.glob(pat))
    views_before = {t.name for t in spark.catalog.listTables()}
    out = run_ohlc_available_now(spark, flat, glob="*.parquet")
    assert set(glob.glob(pat)) == before, "checkpoint tempdir leaked"
    leaked = {
        t.name for t in spark.catalog.listTables()
    } - views_before
    assert not {v for v in leaked if v.startswith("ohlc_")}, leaked
    assert out.count() > 0  # readable post-cleanup
