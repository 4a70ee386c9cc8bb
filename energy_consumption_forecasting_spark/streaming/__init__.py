"""Structured Streaming extensions (SURVEY §2.5 note, §7 phase 5).

The reference is batch-only (six-month EIA files re-downloaded
wholesale, ETL.py:56-77); these operators are the streaming-native form
of its hourly→daily rollup, plus stateful custom aggregation.

Every stream runs to completion through one availableNow runner
(``_available_now``); gate drains read a memory sink
(``drain_available_now``), and every exactly-once sink is one
``step(batch, key)`` folded by ``fold_available_now``.
"""

from __future__ import annotations

import contextlib

STREAM_STATE_PARTITIONS = 32


@contextlib.contextmanager
def pinned_stream_partitions(spark, n: int = STREAM_STATE_PARTITIONS):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query
    starts, then restore.

    A streaming query bakes the shuffle-partition count into its state
    store layout at start; a driver-handed vanilla session carries the
    200 default, which means 200 state-store instances PER stateful
    operator PER micro-batch — a stream-stream join drain that takes
    ~10s at 32 partitions takes minutes at 200.  Our gate drains use
    throwaway checkpoints, so pinning at start is safe (a production
    job with a durable checkpoint must instead set this before the
    FIRST run and never change it)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextlib.contextmanager
def _available_now(
    stream_df,
    sink,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
):
    """Run ``sink(stream_df.writeStream, ckpt)`` to completion under an
    availableNow trigger, then yield the checkpoint path.

    The one place a stream is started: the state width is pinned at
    start (``pinned_stream_partitions``), and a checkpoint this runner
    made is a tempdir removed when the ``with`` block exits, so a
    caller may still read it (state-store tails) inside the block.  A
    caller-supplied ``checkpoint_dir`` is the caller's and is kept
    (resume contract).

    Width: an explicit ``partitions`` wins.  Otherwise a checkpoint
    this runner makes is sized to the host,
    ``min(defaultParallelism, STREAM_STATE_PARTITIONS)`` — it never
    outlives the drain, so no later run meets a different width, and
    each stateful operator opens and commits one store per partition
    per micro-batch, so stores beyond the task slots are pure fixed
    cost.  A caller-supplied checkpoint keeps
    ``STREAM_STATE_PARTITIONS``: Spark bakes the width into a durable
    checkpoint at its first start, so it must not follow the host."""
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    if partitions is None:
        partitions = STREAM_STATE_PARTITIONS
        if checkpoint_dir is None:
            partitions = min(spark.sparkContext.defaultParallelism, partitions)
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ecf_stream_ckpt_")
    try:
        with pinned_stream_partitions(spark, partitions):
            (
                sink(stream_df.writeStream, ckpt)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        yield ckpt
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def drain_available_now(
    stream_df,
    sink_prefix: str,
    output_mode: str = "complete",
    finish=None,
    partitions: int | None = None,
):
    """GATE-ONLY drain: run a (static-source) streaming DataFrame to
    completion through a memory sink and return the final table,
    MATERIALIZED (``localCheckpoint``) so the tempdir checkpoint and
    the memory-sink view can be reclaimed before returning — repeated
    gate/bench invocations must not leak one of each per call (round-6
    advice).  ``finish(table, ckpt)`` post-processes the drained table
    while the checkpoint is still on disk (statestore tail reads).

    Shared by the batch-equivalence gates (daily rollup, sessions,
    enrichment, heavy hitters, markov, cusum, ohlc, minhash dedup) —
    complete-mode memory sinks re-emit the whole result per trigger
    and hold it on the driver, fine for bounded aggregates, wrong for
    unbounded keyspaces; production paths fold through
    ``fold_available_now`` instead (incremental_rollup.py)."""
    import uuid

    # ``partitions``: state-store instance count for this drain.  Each
    # stateful operator opens/commits one store PER partition PER
    # micro-batch, so a gate whose STATE CARDINALITY is contractually
    # bounded (calendar days, a fixed label set) should pass the
    # matching small width — a cardinality-derived constant, valid at
    # any corpus scale (r10: the w18 drain's 32 near-empty stores were
    # ~0.7 s of pure store open/commit per batch).  Unbounded-keyspace
    # gates keep the runner's host-sized default.
    spark = stream_df.sparkSession
    name = f"{sink_prefix}_{uuid.uuid4().hex[:8]}"
    try:
        with _available_now(
            stream_df,
            lambda w, _: w.format("memory").queryName(name).outputMode(output_mode),
            partitions=partitions,
        ) as ckpt:
            out = spark.table(name)
            if finish is not None:
                out = finish(out, ckpt)
            return out.localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


def fold_available_now(
    stream_df, state_dir: str, step, checkpoint_dir: str | None = None
) -> None:
    """Drain ``stream_df`` through foreachBatch, applying each
    micro-batch to the state under ``state_dir`` exactly once.

    ``step(batch, key)`` applies one batch's effect; a step that
    commits a snapshot tags it with ``txn_note(key)``.  foreachBatch
    side effects are AT-LEAST-ONCE (a crash between the sink commit
    and the offset commit replays the batch id on restart), so the
    fold skips keys ``txn_seen`` reports and records each key with
    ``txn_record`` after its step.  The key pairs the batch id with
    the CHECKPOINT lineage — batch ids restart at 0 under a fresh
    checkpoint, so a bare id would dedupe away genuinely new data.
    Pass a PERSISTENT ``checkpoint_dir`` for incremental semantics
    across calls; the default ephemeral checkpoint is the gate/one-shot
    form."""

    def sink(writer, ckpt):
        run_id = run_id_for_checkpoint(ckpt)

        def apply(batch, batch_id: int) -> None:
            key = f"{run_id}/{batch_id}"
            # module globals, looked up per batch: crash-injection
            # tests patch them on this module
            if txn_seen(state_dir, key):
                return
            step(batch, key)
            txn_record(state_dir, key)

        return writer.foreachBatch(apply)

    with _available_now(stream_df, sink, checkpoint_dir):
        pass


def txn_note(key: str) -> str:
    """The snapshot-manifest note a fold step tags its commit with."""
    return f"txn {key}"


def txn_seen(state_dir: str, key: str) -> bool:
    """True iff the fold already applied ``key`` to ``state_dir``: the
    txn log records it OR a snapshot manifest note carries it.

    The snapshot commit is atomic and lands BEFORE the log append, so
    a crash in between leaves the note as the evidence; the log exists
    because ``vacuum()`` rewrites the manifest and must not erase txn
    history (the log lives in its own file).  A directory with no
    manifest (the ANN index) reads as no notes."""
    import json
    import os

    from ..sources.versioned import snapshots

    p = os.path.join(state_dir, "_txn.json")
    if os.path.exists(p):
        with open(p) as f:
            if key in json.load(f):
                return True
    note = txn_note(key)
    return any(e["note"] == note for e in snapshots(state_dir))


def txn_record(state_dir: str, key: str) -> None:
    """Append ``key`` to the transaction log (atomic replace)."""
    import json
    import os

    os.makedirs(state_dir, exist_ok=True)
    p = os.path.join(state_dir, "_txn.json")
    entries = []
    if os.path.exists(p):
        with open(p) as f:
            entries = json.load(f)
    if key in entries:
        return
    tmp = p + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(entries + [key], f)
    os.replace(tmp, p)


def run_id_for_checkpoint(checkpoint_dir: str) -> str:
    """Stable lineage id for a checkpoint location: batch ids are only
    unique WITHIN one checkpoint's lineage, so txn keys pair this with
    the batch id.

    Spark resolves ``ckpt``, ``./ckpt`` and ``/abs/ckpt`` to one
    checkpoint and replays its uncommitted batch under any of them, so
    a local path is hashed in its canonical form (``realpath``); a
    canonical absolute path keeps the id it always had.  A URI
    (``scheme:...``) is hashed as written."""
    import hashlib
    import os
    import re

    if not re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", checkpoint_dir):
        checkpoint_dir = os.path.realpath(checkpoint_dir)
    return hashlib.sha1(
        checkpoint_dir.rstrip("/").encode()
    ).hexdigest()[:12]


def cents_half_up(values) -> "pd.Series":  # noqa: F821 — pandas via caller
    """Float dollars → integer cents with the SAME rounding as the
    engines' double→DECIMAL(18,2) cast (HALF_UP on the shortest-repr
    decimal — Java's BigDecimal.valueOf semantics, which Spark's
    Decimal(double) uses).  pandas ``round()`` is half-EVEN and
    diverges by one cent on exact half-cent values; this helper is the
    one sanctioned conversion for stream state handlers."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    one = Decimal("1")
    return pd.Series(
        [
            int(
                Decimal(repr(float(v))).scaleb(2).quantize(one, ROUND_HALF_UP)
            )
            for v in values
        ],
        index=getattr(values, "index", None),
        dtype="int64",
    )
