"""Crash-window failure injection for the exactly-once sinks (round-6
VERDICT item 7).

The txn-log design docs a specific commit ORDER per sink; these tests
inject crashes INSIDE the documented at-least-once windows and assert
the replay lands exactly-once:

* snapshot sinks (incremental rollup, CDC upsert, source cap) — crash
  BETWEEN the atomic snapshot commit and the txn-log append: the
  replayed batch must be skipped via the manifest NOTE (the commit-order
  argument at ``streaming.txn_seen``: the note lands with the snapshot,
  so a crash in between leaves the note as the evidence), never folded
  twice — also when the restart spells the checkpoint differently.
* ANN ingest — crash BETWEEN executor staging and the driver promote:
  the restart must sweep the orphaned stage dir and half-promoted
  prefix files, then re-stage and promote exactly once.
* jsonl stream sink — crash DURING a batch's promote: the restart
  replays the batch, whose commit clears its own batch-prefixed files
  before promoting (the deterministic-name replace semantics), so the
  final directory holds each row exactly once.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _events_truth(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    return {
        (str(r["d"]), r["event_type"]): (r["n"], r["c"])
        for r in ev.groupBy(
            F.to_date("ts").alias("d"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("c"),
        )
        .collect()
    }


def _rollup(spark, src, table, ckpt):
    from energy_consumption_forecasting_spark.sources.versioned import (
        read_snapshot,
    )
    from energy_consumption_forecasting_spark.streaming.incremental_rollup import (
        run_incremental_rollup,
    )

    run_incremental_rollup(
        spark, src, table, glob="*.parquet", checkpoint_dir=ckpt
    )
    return {
        (str(r["d"]), r["event_type"]): (r["n"], r["sum_cents"])
        for r in read_snapshot(spark, table).collect()
    }


def _cdc_upsert(spark, src, table, ckpt):
    from energy_consumption_forecasting_spark.sources.versioned import (
        read_snapshot,
    )
    from energy_consumption_forecasting_spark.streaming.upsert_stream import (
        run_cdc_upsert_available_now,
    )

    run_cdc_upsert_available_now(
        spark, src, table, glob="*.parquet", checkpoint_dir=ckpt
    )
    return {
        (r["user_id"], str(r["last_d"]), r["last_value_c"])
        for r in read_snapshot(spark, table).collect()
    }


def _source_cap(spark, src, table, ckpt):
    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        run_source_cap_available_now,
    )

    out = run_source_cap_available_now(
        spark, src, table, glob="*.parquet", checkpoint_dir=ckpt
    )
    return {tuple(r) for r in out.collect()}


def _cdc_truth(spark):
    from tests.test_upsert_stream import _batch_truth

    return _batch_truth(spark, f"{SF_SMALL}/events.parquet")


def _source_cap_truth(spark):
    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        pipeline_source_cap,
    )

    return {tuple(r) for r in pipeline_source_cap(spark, SF_SMALL).collect()}


# sink -> (input table, drain returning the final state, batch truth)
_SNAPSHOT_SINKS = {
    "rollup": ("events", _rollup, _events_truth),
    "cdc_upsert": ("events", _cdc_upsert, _cdc_truth),
    "source_cap": ("documents", _source_cap, _source_cap_truth),
}


def _crash_between_snapshot_commit_and_txn_record(
    spark, tmp_path, monkeypatch, sink, relative_restart=False
):
    from energy_consumption_forecasting_spark import streaming as S
    from energy_consumption_forecasting_spark.sources.versioned import versions

    source, drain, truth = _SNAPSHOT_SINKS[sink]
    src = str(tmp_path / "src_dir")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "tbl")
    os.makedirs(src)
    shutil.copy(f"{SF_SMALL}/{source}.parquet", f"{src}/a.parquet")

    real_record = S.txn_record

    def bomb(state_dir, key):
        raise RuntimeError("injected: crash between snapshot-commit and txn-record")

    monkeypatch.setattr(S, "txn_record", bomb)
    with pytest.raises(Exception, match="injected|Terminated|foreach"):
        drain(spark, src, table, ckpt)
    # the crash window left the snapshot COMMITTED (with its txn note)
    # but the txn log unwritten — exactly the documented hazard
    assert versions(table) == [1]
    assert not os.path.exists(os.path.join(table, "_txn.json"))

    monkeypatch.setattr(S, "txn_record", real_record)
    if relative_restart:
        # the same checkpoint spelled relative to the working directory,
        # which the JVM shares: Spark resolves it to the same offsets log
        assert spark._jvm.java.lang.System.getProperty("user.dir") == os.getcwd()
        ckpt = os.path.relpath(ckpt)
    # restart with the SAME checkpoint: the offsets log has the batch,
    # the commit log doesn't, so Spark replays it — the manifest note
    # must make the replay a no-op
    got = drain(spark, src, table, ckpt)
    assert versions(table) == [1], "replayed batch was folded twice"
    assert got == truth(spark)


def test_rollup_crash_between_snapshot_commit_and_txn_record(
    spark, tmp_path, monkeypatch
):
    _crash_between_snapshot_commit_and_txn_record(
        spark, tmp_path, monkeypatch, "rollup"
    )


@pytest.mark.parametrize(
    "sink, relative_restart",
    [
        ("cdc_upsert", False),
        ("source_cap", False),
        ("rollup", True),
    ],
    ids=["cdc_upsert", "source_cap", "rollup_relative_restart"],
)
def test_fold_crash_between_snapshot_commit_and_txn_record(
    spark, tmp_path, monkeypatch, sink, relative_restart
):
    """Every snapshot sink folds through one helper, so each one gets
    the rollup's crash window; the relative-spelling restart pins that
    the lineage key names the checkpoint, not its spelling."""
    _crash_between_snapshot_commit_and_txn_record(
        spark, tmp_path, monkeypatch, sink, relative_restart
    )


def test_jsonl_stream_sink_crash_during_promote(spark, tmp_path, monkeypatch):
    from energy_consumption_forecasting_spark.sources.jsonl_sink_datasource import (
        JsonlSinkDataSource,
    )
    from energy_consumption_forecasting_spark.streaming import (
        pinned_stream_partitions,
    )
    from energy_consumption_forecasting_spark.streaming.source import (
        events_stream,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "jsonl_out")
    ckpt = str(tmp_path / "jsonl_ckpt")
    src = events_stream(spark, SF_SMALL, "events.parquet").select(
        "event_id", "event_type"
    )

    # the DataSource commit runs in a worker process — injection goes
    # through the sink's documented failpoint option (one armed crash,
    # marker file records the firing)
    marker = str(tmp_path / "crash_marker")

    def run():
        with pinned_stream_partitions(spark):
            q = (
                src.writeStream.format("ecf_jsonl")
                .option("path", out)
                .option("crashoncepath", marker)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    with pytest.raises(Exception, match="injected|Terminated|stream"):
        run()
    assert os.path.exists(marker), "failpoint never fired"
    # restart: the batch replays; its commit clears its own
    # batch-prefixed files before promoting, so rows land exactly once
    run()

    n_src = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    got = spark.read.json(f"{out}/*.jsonl")
    assert got.count() == n_src
    assert got.select("event_id").distinct().count() == n_src
    # no torn staging files survive the recovery
    assert not any(fn.startswith(".staged-") for fn in os.listdir(out))
