"""Streaming incremental materialized rollup — foreachBatch + snapshots.

The end-to-end incremental pipeline the batch pieces compose into:
events stream in, each micro-batch folds its delta into a re-aggregable
daily state (counts + exact integer cents — the hypertable contract
from operators/rollup.py), and every merge is committed as a NEW
version of a snapshot-versioned table (sources/versioned.py).  So the
rollup is

* **incremental** — each batch touches batch-sized data plus the
  (tiny) prior state, never the full fact history;
* **exact** — additive integer/decimal state composes associatively,
  so after any number of batches the state equals the one-shot batch
  aggregate (the gate oracle's check);
* **time-travelable** — every micro-batch boundary is a queryable
  snapshot (AS-OF reads show the rollup as of batch N).

At 100 TB the same shape runs continuously: state size is calendar ×
type bounded, the merge is a groupBy on that bounded key, and the
snapshot commit writes only the new state version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.versioned import commit_snapshot, read_snapshot, versions
from .source import events_stream

_STATE_COLS = ("d", "event_type", "n", "sum_cents")


def _batch_state(batch: DataFrame) -> DataFrame:
    """Per-day per-type additive state for one micro-batch.

    ``batch`` already carries a normalized TimestampType ``ts``
    (streaming/source.py probes the on-disk type)."""
    return (
        batch.groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("sum_cents"),
        )
    )


def _merge(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    if old is None:
        return delta
    return (
        old.select(*_STATE_COLS)
        .unionByName(delta.select(*_STATE_COLS))
        .groupBy("d", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )


def run_incremental_rollup(
    spark: SparkSession,
    events_dir: str,
    table_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain the directory through foreachBatch, committing one snapshot
    per micro-batch; returns the final rollup state (latest snapshot).

    Pass a PERSISTENT ``checkpoint_dir`` to get incremental semantics
    across calls (new files fold as new batches; a crash-replayed
    batch is skipped by the txn guard).  The default ephemeral
    checkpoint is the gate/one-shot form."""
    from . import fold_available_now, txn_note

    stream = events_stream(
        spark, events_dir, glob, maxFilesPerTrigger=max_files_per_trigger
    )

    def upsert(batch: DataFrame, key: str) -> None:
        delta = _batch_state(batch)
        prior = (
            read_snapshot(batch.sparkSession, table_dir)
            if versions(table_dir)
            else None
        )
        commit_snapshot(_merge(prior, delta), table_dir, note=txn_note(key))

    fold_available_now(stream, table_dir, upsert, checkpoint_dir)
    return read_snapshot(spark, table_dir)
