"""Streaming incremental rollup: multi-batch merges compose exactly and
every micro-batch boundary is a queryable snapshot."""

from __future__ import annotations

import glob as g
import os
import shutil

import pytest

from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.streaming.incremental_rollup import (
    run_incremental_rollup,
)
from energy_consumption_forecasting_spark.sources.versioned import (
    read_snapshot,
    versions,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    split_dir = tmp_path_factory.mktemp("incr_split")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    os.makedirs(f"{split_dir}/files", exist_ok=True)
    for part, parity in (("a", 0), ("b", 1)):
        ev.filter(F.col("event_id") % 2 == parity).coalesce(1).write.parquet(
            f"{split_dir}/tmp_{part}"
        )
        src = g.glob(f"{split_dir}/tmp_{part}/part-*.parquet")[0]
        shutil.copy(src, f"{split_dir}/files/{part}.parquet")
    return f"{split_dir}/files"


def _batch_truth(spark):
    from energy_consumption_forecasting_spark.tables import load_table

    return {
        (r.d, r.event_type): (r.n, r.sum_cents)
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("sum_cents"),
        )
        .collect()
    }


def test_two_batch_merge_equals_batch_aggregate(spark, split_events, tmp_path):
    table = str(tmp_path / "table")
    final = run_incremental_rollup(
        spark, split_events, table, glob="*.parquet", max_files_per_trigger=1
    )
    got = {
        (r.d, r.event_type): (r.n, r.sum_cents) for r in final.collect()
    }
    assert got == _batch_truth(spark)
    # one snapshot per micro-batch, both queryable
    assert versions(table) == [1, 2]
    v1 = read_snapshot(spark, table, version=1)
    # the first snapshot holds exactly the first file's contribution:
    # strictly fewer events than the final state, same state schema
    n1 = v1.agg(F.sum("n")).collect()[0][0]
    n2 = final.agg(F.sum("n")).collect()[0][0]
    assert 0 < n1 < n2


def test_incremental_state_equals_complete_mode_drain(spark):
    """The two streaming rollup paths — gate-only complete-mode memory
    sink (daily_rollup.py) and the production foreachBatch merge
    (incremental_rollup.py) — agree on the final state."""
    import tempfile

    from energy_consumption_forecasting_spark.streaming.daily_rollup import (
        run_available_now,
    )

    table = tempfile.mkdtemp(prefix="ecf_incr_equiv_")
    incr = run_incremental_rollup(spark, SF_SMALL, table)
    complete = run_available_now(spark, SF_SMALL)
    got_incr = {
        (r.d, r.event_type): (r.n, round(r.sum_cents / 100.0 / r.n, 9))
        for r in incr.collect()
    }
    got_complete = {
        (r.d, r.event_type): (r.n, round(r.avg_value, 9))
        for r in complete.collect()
    }
    assert got_incr == got_complete
    assert len(got_incr) > 0


def test_incremental_folds_new_files_once(spark, tmp_path):
    """A persistent checkpoint gives true incremental semantics: the
    second drain folds ONLY the new file, exactly once; a third drain
    with nothing new is a no-op.  (The txn guard is keyed on the
    checkpoint lineage — a bare batch id would dedupe the new file
    away, the round-4 review finding.)"""
    import shutil

    from energy_consumption_forecasting_spark.sources.versioned import (
        read_snapshot,
    )
    from energy_consumption_forecasting_spark.streaming.incremental_rollup import (
        run_incremental_rollup,
    )

    src = str(tmp_path / "events_dir")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "tbl")
    import os

    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{src}/a.parquet")

    run_incremental_rollup(spark, src, table, glob="*.parquet",
                           checkpoint_dir=ckpt)
    state1 = {tuple(r) for r in read_snapshot(spark, table).collect()}

    # new file arrives (same content: every (d, type) count doubles)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{src}/b.parquet")
    run_incremental_rollup(spark, src, table, glob="*.parquet",
                           checkpoint_dir=ckpt)
    state2 = {(r[0], r[1]): (r[2], r[3])
              for r in read_snapshot(spark, table).collect()}
    for (d, t, n, c) in state1:
        assert state2[(d, t)] == (2 * n, 2 * c), "new file not folded once"

    # nothing new: no-op
    run_incremental_rollup(spark, src, table, glob="*.parquet",
                           checkpoint_dir=ckpt)
    state3 = {(r[0], r[1]): (r[2], r[3])
              for r in read_snapshot(spark, table).collect()}
    assert state3 == state2


def test_txn_guard_skips_replayed_key(tmp_path):
    """The guard primitive: a recorded (run, batch) key is seen; other
    runs' keys are not — and the log survives a manifest rewrite."""
    from energy_consumption_forecasting_spark.streaming import (
        run_id_for_checkpoint,
        txn_record,
        txn_seen,
    )

    d = str(tmp_path / "state")
    r1 = run_id_for_checkpoint("/ckpt/one")
    r2 = run_id_for_checkpoint("/ckpt/two")
    assert r1 != r2
    assert not txn_seen(d, f"{r1}/0")
    txn_record(d, f"{r1}/0")
    assert txn_seen(d, f"{r1}/0")
    assert not txn_seen(d, f"{r2}/0")  # fresh lineage, same batch id
    txn_record(d, f"{r1}/0")  # idempotent
    assert txn_seen(d, f"{r1}/0")


def test_run_id_names_the_checkpoint_not_its_spelling(tmp_path, monkeypatch):
    """Spark resolves every spelling of a local checkpoint to one
    offsets log and replays its uncommitted batch under any of them, so
    the lineage id must not change with the spelling.  A canonical
    absolute path keeps the id it had before paths were canonicalized
    (existing persisted checkpoints keep their keys), and a URI is
    hashed as written."""
    import hashlib
    import os

    from energy_consumption_forecasting_spark.streaming import (
        run_id_for_checkpoint,
    )

    def sha(path):
        return hashlib.sha1(path.encode()).hexdigest()[:12]

    (tmp_path / "ckpt").mkdir()
    monkeypatch.chdir(tmp_path)
    canonical = os.path.realpath(tmp_path / "ckpt")
    spellings = ["ckpt", "./ckpt", "ckpt/", "sub/../ckpt", canonical, canonical + "/"]
    assert {run_id_for_checkpoint(p) for p in spellings} == {sha(canonical)}
    assert run_id_for_checkpoint("other") != sha(canonical)
    assert run_id_for_checkpoint("s3a://bucket/ckpt/") == sha("s3a://bucket/ckpt")
