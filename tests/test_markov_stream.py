"""Streaming Markov transitions: multi-batch drain == batch lag-window
truth, watermark sealing actually emits mid-stream, and the statestore
tail flush recovers exactly the unsealed remainder."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _batch_truth(spark, src_dir: str) -> dict[tuple[str, str], int]:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = (
        spark.read.parquet(f"{src_dir}/*.parquet")
        .select(
            F.lag("event_type").over(w).alias("p"),
            F.col("event_type").alias("nx"),
        )
        .filter(F.col("p").isNotNull())
        .groupBy("p", "nx")
        .count()
        .collect()
    )
    return {(r["p"], r["nx"]): r["count"] for r in rows}


def _stage_split(spark, split_dir, n_chunks: int = 4) -> str:
    """Split the (globally ts-ordered) events file into ts-contiguous
    chunks, one parquet file each, so maxFilesPerTrigger=1 yields real
    multi-batch arrival with an advancing watermark and no late rows."""
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
        ).parquet(f"{split_dir}/chunk={i:03d}")  # zero-pad: walk order must be ts order
    # flatten: file source globs *.parquet in one dir.  The file source
    # admits maxFilesPerTrigger files per batch in MODIFICATION-TIME
    # order; freshly-copied chunks share an mtime, which makes the
    # arrival order nondeterministic and (chunks out of ts order) turns
    # boundary events into legitimately-dropped late data.  Pin strictly
    # increasing mtimes so arrival order == event-time order, the
    # scenario the exact-parity assertion is about.
    import time

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


def test_multibatch_equals_batch(spark, tmp_path):
    flat = _stage_split(spark, tmp_path)
    from energy_consumption_forecasting_spark.streaming.markov_stream import (
        run_markov_available_now,
    )

    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in run_markov_available_now(
            spark, flat, glob="*.parquet", max_files_per_trigger=1
        ).collect()
    }
    assert got == _batch_truth(spark, flat)


def test_watermark_seals_midstream_and_tail_is_partial(spark, tmp_path):
    """With 4 ts-contiguous chunks the watermark advances between
    batches, so SOME transitions must be sealed+emitted mid-stream
    (the tail alone must NOT account for the whole answer)."""
    import tempfile
    import uuid

    from energy_consumption_forecasting_spark.streaming import (
        pinned_stream_partitions,
    )
    from energy_consumption_forecasting_spark.streaming.markov_stream import (
        _tail_transitions,
        markov_stream,
    )

    flat = _stage_split(spark, tmp_path)
    sink = f"markov_t_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ecf_markov_test_ckpt_")
    with pinned_stream_partitions(spark):
        q = (
            markov_stream(spark, flat, "*.parquet", max_files_per_trigger=1)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sealed_emissions = spark.table(sink).count()
    assert sealed_emissions > 0, "watermark never sealed anything"
    tail_total = (
        _tail_transitions(spark, ckpt).agg(F.sum("n")).collect()[0][0] or 0
    )
    truth_total = sum(_batch_truth(spark, flat).values())
    assert 0 < tail_total < truth_total, (
        "tail should cover only the unsealed remainder, "
        f"got {tail_total} of {truth_total}"
    )
