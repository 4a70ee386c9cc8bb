"""The one availableNow runner (``streaming._available_now``): the
state width it pins, read back from the offsets log Spark writes."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_SMALL


def _drain_width(spark, **kw) -> int:
    """``spark.sql.shuffle.partitions`` recorded in the first batch's
    offsets entry of a noop drain of SF_SMALL's events."""
    from energy_consumption_forecasting_spark.streaming import _available_now
    from energy_consumption_forecasting_spark.streaming.source import events_stream

    stream = events_stream(spark, SF_SMALL, "events.parquet")
    with _available_now(stream, lambda w, _: w.format("noop"), **kw) as ckpt:
        with open(os.path.join(ckpt, "offsets", "0")) as f:
            meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


@pytest.mark.parametrize("kind", ["runner_made", "caller_given", "explicit"])
def test_available_now_state_width(spark, tmp_path, kind):
    """A checkpoint the runner makes (and removes) is sized to the host;
    a caller-given checkpoint keeps the durable width; an explicit
    ``partitions`` wins over both."""
    from energy_consumption_forecasting_spark.streaming import STREAM_STATE_PARTITIONS

    if kind == "runner_made":
        got = _drain_width(spark)
        want = min(spark.sparkContext.defaultParallelism, STREAM_STATE_PARTITIONS)
    elif kind == "caller_given":
        got = _drain_width(spark, checkpoint_dir=str(tmp_path / "ckpt"))
        want = STREAM_STATE_PARTITIONS
    else:
        got = _drain_width(spark, partitions=8)
        want = 8
    assert got == want
