"""Stream-stream interval join — view→purchase attribution.

The last core Structured Streaming operator family this engine needed:
joining two live streams.  Spark buffers both sides in the state store;
the watermark plus the time-range join condition bound how long a view
must be retained (one hour past its event time) — without the range
condition the state would grow forever, which is why the bound lives in
the JOIN clause, not a post-filter.

Scale: state is keyed by user_id (the equi-key); per-key buffered rows
are bounded by event rate × the attribution window, independent of
total history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .source import events_stream

ATTRIBUTION_WINDOW = "1 hour"


def _read(spark: SparkSession, events_dir: str, glob: str) -> DataFrame:
    return events_stream(spark, events_dir, glob)


def attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared batch/streaming shape: each purchase joined to every view
    by the same user within the preceding attribution window."""
    v = views.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )


def attribution_stream(
    spark: SparkSession, events_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    views = _read(spark, events_dir, glob).withWatermark("ts", ATTRIBUTION_WINDOW)
    purchases = _read(spark, events_dir, glob).withWatermark("ts", "0 seconds")
    return attribution_join(views, purchases)


def run_attribution_available_now(
    spark: SparkSession, events_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    from . import drain_available_now

    return drain_available_now(
        attribution_stream(spark, events_dir, glob), "attrib", "append"
    )


# --- left-outer stream-stream join: unconverted views -------------------------------
def abandoned_views_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Views joined LEFT OUTER to purchases in the attribution window;
    an unmatched row (purchase columns NULL) is an abandoned browse.

    This is the materially harder stateful operator: an unmatched view
    can only be emitted once the watermark proves no qualifying
    purchase can still arrive, so emission is driven by WATERMARK
    EXPIRY, not by data — the engine's no-data micro-batches advance
    the watermark and flush the final unmatched rows before an
    availableNow drain terminates.  Both sides need a watermark and
    the join needs the time-range condition for state eviction (same
    rule as the inner form above)."""
    v = views.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        ),
        "left_outer",
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )


def abandoned_views_stream(
    spark: SparkSession, events_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    views = _read(spark, events_dir, glob).withWatermark(
        "ts", ATTRIBUTION_WINDOW
    )
    purchases = _read(spark, events_dir, glob).withWatermark("ts", "0 seconds")
    return abandoned_views_join(views, purchases)


def run_abandoned_available_now(
    spark: SparkSession, events_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Drain; returns ONLY the abandoned views (purchase_id NULL rows),
    aggregated to one row per view (a view matched by ANY purchase is
    converted; left-outer emits one row per match plus none for the
    null side, so the unmatched set is views absent from the matched
    set — computed here batch-side on the drained sink)."""
    from . import drain_available_now

    return drain_available_now(
        abandoned_views_stream(spark, events_dir, glob),
        "abandon",
        "append",
        finish=lambda table, _ckpt: table.groupBy("user_id", "view_id")
        .agg(F.max("purchase_id").alias("any_purchase"))
        .filter(F.col("any_purchase").isNull())
        .select("user_id", "view_id"),
    )
