"""Streaming CUSUM: multi-batch drain == batch recursion, days seal
mid-stream, tail covers only the unsealed remainder."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.test_markov_stream import _stage_split


def _mu_and_truth(spark, src_glob: str):
    from energy_consumption_forecasting_spark.queries.smoothing import (
        cusum_chart,
    )

    daily = (
        spark.read.parquet(src_glob)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu")
    )
    mu = {r["event_type"]: r["mu"] for r in stats.collect()}
    truth = {
        (r["event_type"], r["d"]): (r["cplus"], r["cminus"], r["alert"])
        for r in daily.groupBy("event_type")
        .applyInPandas(
            cusum_chart,
            "event_type string, d date, cplus double, cminus double, "
            "alert boolean",
        )
        .collect()
    }
    return mu, truth


def test_cusum_multibatch_equals_batch(spark, tmp_path):
    flat = _stage_split(spark, tmp_path)
    from energy_consumption_forecasting_spark.streaming.cusum_stream import (
        run_cusum_available_now,
    )

    mu, truth = _mu_and_truth(spark, f"{flat}/*.parquet")
    rows = run_cusum_available_now(
        spark, flat, mu, glob="*.parquet", max_files_per_trigger=1
    ).collect()
    got = {
        (r["event_type"], r["d"]): (r["cplus"], r["cminus"], r["alert"])
        for r in rows
    }
    # row count FIRST: a sealed+tail double emission must not hide
    # behind the dict collapse
    assert len(rows) == len(truth)
    assert got == truth


def test_cusum_days_seal_midstream(spark, tmp_path):
    """With 4 ts-contiguous chunks spanning ~30 days and a 1-day
    watermark delay, SOME days must seal (and emit) before the drain
    ends — the tail alone must not be the whole chart."""
    import tempfile
    import uuid

    from energy_consumption_forecasting_spark.streaming import (
        pinned_stream_partitions,
    )
    from energy_consumption_forecasting_spark.streaming.cusum_stream import (
        cusum_stream,
    )

    flat = _stage_split(spark, tmp_path)
    mu, truth = _mu_and_truth(spark, f"{flat}/*.parquet")
    sink = f"cusum_t_{uuid.uuid4().hex[:8]}"
    with pinned_stream_partitions(spark):
        q = (
            cusum_stream(spark, flat, mu, "*.parquet", max_files_per_trigger=1)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ecf_cusum_test_ckpt_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sealed = spark.table(sink).count()
    assert 0 < sealed < len(truth), (
        f"expected a strict subset sealed mid-stream, got {sealed} "
        f"of {len(truth)}"
    )


def test_mu_frame_rejects_duplicate_event_type(spark):
    """Calibration contract: one row per event_type.  A duplicate key
    would silently fan out every stream row through the stream-static
    left join (double-counting cents) — _mu_frame must fail loudly
    instead (advice r6)."""
    import pytest

    from energy_consumption_forecasting_spark.streaming.cusum_stream import (
        _mu_frame,
    )

    dup = spark.createDataFrame(
        [("purchase", 1.0), ("purchase", 2.0), ("view", 3.0)],
        "event_type string, mu double",
    )
    with pytest.raises(Exception, match="duplicate"):
        _mu_frame(spark, dup).collect()
    ok = spark.createDataFrame(
        [("purchase", 1.0), ("view", 3.0)], "event_type string, mu double"
    )
    got = {r["event_type"]: r["mu"] for r in _mu_frame(spark, ok).collect()}
    assert got == {"purchase": 1.0, "view": 3.0}
