"""Stream-static enrichment: the broadcast dim join produces identical
aggregates whether the stream arrives as one batch or split across
micro-batches, and equals the batch join+agg."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.streaming.enrich_stream import (
    enriched_segment_agg,
    run_enrich_available_now,
)
from tests.conftest import SF_SMALL



@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    split_dir = tmp_path_factory.mktemp("enrich_split")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    import glob as g
    import os

    os.makedirs(f"{split_dir}/files", exist_ok=True)
    for part, parity in (("a", 0), ("b", 1)):
        ev.filter(F.col("event_id") % 2 == parity).coalesce(1).write.parquet(
            f"{split_dir}/tmp_{part}"
        )
        src = g.glob(f"{split_dir}/tmp_{part}/part-*.parquet")[0]
        shutil.copy(src, f"{split_dir}/files/{part}.parquet")
    return f"{split_dir}/files"


def _as_map(df):
    return {
        (r["c_mktsegment"], r["event_type"]): (r["n"], round(r["total_value"], 9))
        for r in df.collect()
    }


def test_enrich_split_drain_equals_batch(spark, split_events):
    from energy_consumption_forecasting_spark.session import ensure_utc
    from energy_consumption_forecasting_spark.tables import load_table

    ensure_utc(spark)
    customer = load_table(spark, SF_SMALL, "customer")
    streamed = _as_map(
        run_enrich_available_now(spark, split_events, customer, glob="*.parquet")
    )
    batch = _as_map(
        enriched_segment_agg(load_table(spark, SF_SMALL, "events"), customer)
    )
    assert streamed == batch
    assert len(streamed) > 0
