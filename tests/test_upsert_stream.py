"""Streaming CDC apply: multi-batch upsert chain == batch latest-per-key,
and crash-replayed batches are no-ops (txn guard)."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _stage_split(spark, split_dir, n_chunks: int = 4) -> str:
    """ts-contiguous chunks with strictly increasing mtimes so LATER
    batches carry LATER events — the CDC overwrite contract."""
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
    ev = spark.read.parquet(events_path)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rows = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.to_date("ts").alias("last_d"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("last_value_c"),
        )
        .collect()
    )
    return {(r["user_id"], str(r["last_d"]), r["last_value_c"]) for r in rows}


def test_multibatch_cdc_equals_batch_latest(spark, tmp_path):
    flat = _stage_split(spark, tmp_path / "split")
    table = str(tmp_path / "table")
    from energy_consumption_forecasting_spark.streaming.upsert_stream import (
        run_cdc_upsert_available_now,
    )

    out = run_cdc_upsert_available_now(
        spark, flat, table, glob="*.parquet", max_files_per_trigger=1
    )
    got = {
        (r["user_id"], str(r["last_d"]), r["last_value_c"])
        for r in out.collect()
    }
    assert got == _batch_truth(spark, flat) and len(got) > 0
    # the table accumulated one upsert version per batch (4 chunks):
    from energy_consumption_forecasting_spark.sources.versioned import (
        versions,
    )

    assert len(versions(table)) == 4


def test_replayed_batch_is_noop(spark, tmp_path):
    """Re-running the drain with the SAME persistent checkpoint replays
    no batch (offsets committed) and the txn guard keeps the table
    unchanged even if foreachBatch were re-invoked."""
    import tempfile

    flat = _stage_split(spark, tmp_path / "split", n_chunks=2)
    table = str(tmp_path / "table")
    ckpt = tempfile.mkdtemp(prefix="ecf_cdc_test_ckpt_")
    from energy_consumption_forecasting_spark.sources.versioned import (
        versions,
    )
    from energy_consumption_forecasting_spark.streaming.upsert_stream import (
        run_cdc_upsert_available_now,
    )

    run_cdc_upsert_available_now(
        spark, flat, table, glob="*.parquet", max_files_per_trigger=1,
        checkpoint_dir=ckpt,
    )
    v1 = versions(table)
    out2 = run_cdc_upsert_available_now(
        spark, flat, table, glob="*.parquet", max_files_per_trigger=1,
        checkpoint_dir=ckpt,
    )
    assert versions(table) == v1  # nothing re-applied
    assert out2.count() > 0
