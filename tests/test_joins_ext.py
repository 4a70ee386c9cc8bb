"""Edge-semantics tests for the extended join operators: as-of must
return the latest right ROW's value even when that value is NULL, and a
binned range join keeps exactly the facts inside an interval."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.operators.joins_ext import (
    asof_join,
    range_join_binned,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_null_right_value_wins(spark):
    """A newer right row with a NULL value must shadow an older non-null
    one (latest-row semantics, matching ORDER BY ts DESC LIMIT 1)."""
    left = spark.createDataFrame(
        [("u1", _ts("2024-01-01T10:00")), ("u1", _ts("2024-01-01T12:00"))],
        "user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T09:00"), 5.0),
            ("u1", _ts("2024-01-01T11:00"), None),
        ],
        "user_id string, ts timestamp, value double",
    )
    out = {
        r["ts"]: r["value_asof"]
        for r in asof_join(left, right, ["user_id"], "ts", ["value"]).collect()
    }
    assert out[_ts("2024-01-01T10:00")] == 5.0
    assert out[_ts("2024-01-01T12:00")] is None  # latest row's NULL, not 5.0


def test_asof_join_no_right_row_yet(spark):
    left = spark.createDataFrame(
        [("u1", _ts("2024-01-01T08:00"))], "user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _ts("2024-01-01T09:00"), 1.0)],
        "user_id string, ts timestamp, value double",
    )
    row = asof_join(left, right, ["user_id"], "ts", ["value"]).first()
    assert row["value_asof"] is None


def test_range_join_drops_unmatched(spark):
    facts = spark.createDataFrame(
        [(1, 5.0), (2, 55.0), (3, 500.0)], "fact_id int, v double"
    )
    intervals = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 50.0, 60.0)], "iv string, lo double, hi double"
    )
    out = range_join_binned(facts, intervals, "v", "lo", "hi", bin_size=10.0)
    assert {r["fact_id"]: r["iv"] for r in out.collect()} == {1: "a", 2: "b"}
