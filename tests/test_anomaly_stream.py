"""Streaming trailing z-score: multi-batch drain equals batch semantics
even when each day's data is split across micro-batches (late data)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.streaming.anomaly_stream import (
    run_anomaly_available_now,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    """events split into two files by event_id parity: every day's total
    arrives half in batch 1, half in batch 2."""
    split_dir = tmp_path_factory.mktemp("anomaly_split")
    # raw read/rewrite preserves the on-disk ts type; the stream reader
    # probes whatever lands here (streaming/source.py)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    for part, pred in (("a", 0), ("b", 1)):
        ev.filter(F.col("event_id") % 2 == pred).coalesce(1).write.parquet(
            f"{split_dir}/tmp_{part}"
        )
    # flatten into one directory of two parquet files
    import glob as g
    import os

    os.makedirs(f"{split_dir}/files", exist_ok=True)
    for part in ("a", "b"):
        src = g.glob(f"{split_dir}/tmp_{part}/part-*.parquet")[0]
        shutil.copy(src, f"{split_dir}/files/{part}.parquet")
    return f"{split_dir}/files"


def test_split_batches_converge_to_full_result(spark, split_events):
    whole = run_anomaly_available_now(spark, SF_SMALL, glob="events.parquet")
    split = run_anomaly_available_now(
        spark, split_events, glob="*.parquet", max_files_per_trigger=1
    )
    as_map = lambda df: {
        (r.event_type, r.d): (r.day_total, r.z) for r in df.collect()
    }
    w, s = as_map(whole), as_map(split)
    assert w and w == s  # late halves re-emitted and corrected


def test_incomplete_windows_not_scored(spark):
    out = run_anomaly_available_now(spark, SF_SMALL).collect()
    # first 7 calendar days can never have 7 prior observed days
    days = sorted({r.d for r in out})
    assert len(days) > 0
    from energy_consumption_forecasting_spark.tables import load_table

    first_day = (
        load_table(spark, SF_SMALL, "events")
        .select(F.min(F.to_date("ts")))
        .collect()[0][0]
    )
    assert (min(days) - first_day).days >= 7


def test_stream_heavy_hitters_matches_batch(spark):
    """Stream==batch parity for the sliding-window top-k, plus rank
    contract: per window, ranks are 1..k and counts non-increasing."""
    from pyspark.sql import Window

    from energy_consumption_forecasting_spark.queries.extensions import (
        stream_heavy_hitters,
    )
    from tests.conftest import SF_SMALL

    out = stream_heavy_hitters(spark, SF_SMALL)
    rows = out.collect()
    assert rows
    by_w = {}
    for r in rows:
        by_w.setdefault(r.w_start, []).append((r.rnk, r.n, r.event_type))
    for w, lst in by_w.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        ns = [x[1] for x in lst]
        assert ns == sorted(ns, reverse=True)

    # batch twin computed directly on the parquet
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    counted = (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.to_date(F.col("w.start")).alias("w_start"), "event_type", "n")
    )
    r = F.row_number().over(
        Window.partitionBy("w_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    ref = (
        counted.withColumn("rnk", r.cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("w_start", "rnk", "event_type", F.col("n").cast("long").alias("n"))
    )
    assert {tuple(x) for x in rows} == {tuple(x) for x in ref.collect()}
