"""Streaming CDC apply: per-key latest state upserted into the
versioned store via merge-on-read UPSERT — the capstone composition of
the exactly-once fold (``streaming.fold_available_now``) and
sources/versioned.py::merge_upsert.

Each micro-batch reduces to its latest row per key (deterministic
(ts, event_id) struct max — order-independent within the batch), then
one atomic upsert version lands: matched keys replaced through a
position-delete file, new keys appended.  Replayed batches are skipped
by the txn log, so the table is exactly-once under crash/restart.
Across batches, file-source arrival is modification-time order; staged
tests pin arrival order == event-time order so later batches
legitimately overwrite earlier state (the CDC contract).

State held: none in the stream (stateless per-batch reduce); the
TABLE is the state — bounded by key cardinality, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.versioned import (
    commit_snapshot,
    merge_upsert,
    read_snapshot,
    versions,
)
from .source import events_stream


def _batch_latest(batch: DataFrame) -> DataFrame:
    """Latest (ts, event_id)-ordered row per user in one micro-batch —
    a struct max, so the reduce is order-independent."""
    top = F.max(
        F.struct(
            "ts",
            "event_id",
            F.col("value").cast("decimal(18,2)").alias("value"),
        )
    ).alias("m")
    return (
        batch.groupBy("user_id")
        .agg(top)
        .select(
            "user_id",
            F.to_date("m.ts").alias("last_d"),
            (F.col("m.value") * 100).cast("long").alias("last_value_c"),
        )
    )


def run_cdc_upsert_available_now(
    spark: SparkSession,
    events_dir: str,
    table_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain the (static) directory applying one upsert per micro-batch;
    returns the final table state."""
    from . import fold_available_now, txn_note

    stream = events_stream(
        spark, events_dir, glob, maxFilesPerTrigger=max_files_per_trigger
    )

    def apply(batch: DataFrame, key: str) -> None:
        latest = _batch_latest(batch)
        if versions(table_dir):
            merge_upsert(
                spark, table_dir, latest, ["user_id"], note=txn_note(key)
            )
        else:
            commit_snapshot(latest, table_dir, note=txn_note(key))

    fold_available_now(stream, table_dir, apply, checkpoint_dir)
    return read_snapshot(spark, table_dir)
