"""Incremental ANN index maintenance — streaming vector ingest.

Completes the index lifecycle (sources/ann_index.py builds it once):
new vectors arrive as a stream and must become searchable without a
full rebuild.  The standard production split applies:

* the QUANTIZERS (PQ codebooks, OPQ rotation, IVF centroids) are
  trained on the initial corpus and FROZEN — retraining them would
  invalidate every stored code, so drift is handled by periodic
  rebuilds, not per-batch updates (the FAISS/Milvus convention);
* each micro-batch is encoded by ``sources/ann_index.encode_with_meta``
  — the same in-plan encoders over 1-row fit frames rebuilt from
  ``meta.json`` that the batch build uses — and appended to the
  cell-partitioned codes parquet: an append-only sink, no state store.

Searches running against the index directory see new vectors on their
next scan; `search_ann_index` needs no changes.  Equivalence contract
(tests/test_ann_ingest.py): streaming the corpus into an empty index
yields exactly the codes a one-shot batch build produces with the same
frozen quantizers — by construction, since both go through one
encoder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.ann_index import encode_with_meta, load_ann_index


def ingest_vectors_available_now(
    spark: SparkSession,
    index_dir: str,
    vectors_dir: str,
    glob: str = "*.parquet",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a directory of vector parquet files into the index.

    Pass a PERSISTENT ``checkpoint_dir`` for incremental ingest across
    calls (only new files encode; crash-replayed batches are skipped);
    the default ephemeral checkpoint is the one-shot form."""
    import os
    import tempfile

    from . import (
        pinned_stream_partitions,
        run_id_for_checkpoint,
        txn_record,
        txn_seen,
    )
    from .source import stream_source

    _, meta = load_ann_index(spark, index_dir)
    codes_dir = os.path.join(index_dir, "codes")
    partitioned = meta.get("centroids") is not None

    stream = stream_source(
        spark, vectors_dir, glob, maxFilesPerTrigger=max_files_per_trigger
    ).select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("v")
    )

    own_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ecf_annin_ckpt_")
    run_id = run_id_for_checkpoint(ckpt)

    # sweep stage dirs orphaned by crashed earlier attempts of THIS
    # lineage only — a concurrent ingest with its own checkpoint may
    # have a live stage under the same index_dir, and sweeping it
    # would silently drop that run's batch
    import glob as _globmod
    import shutil as _shutil

    for orphan in _globmod.glob(
        os.path.join(index_dir, f"_stage_{run_id}_*")
    ):
        _shutil.rmtree(orphan, ignore_errors=True)

    def append(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch side effects are AT-LEAST-ONCE: a crashed batch
        # replays with the same batch_id, and a plain mode("append")
        # would duplicate every replayed vector.  Exactly-once recipe:
        # (1) skip keys the txn log records — keys are scoped by the
        # CHECKPOINT lineage (a bare batch_id restarts at 0 under a
        # fresh checkpoint and would dedupe away genuinely new data);
        # (2) stage the batch INSIDE index_dir (same filesystem, so
        # os.replace stays an atomic rename — /tmp may be a different
        # mount), sweep any files a half-finished earlier attempt
        # left, then move the parts in under DETERMINISTIC
        # run/batch-prefixed names — after any COMPLETED attempt the
        # codes dir holds exactly that attempt's files; (3) record the
        # key.  A crash between (2) and (3) just makes the replay redo
        # the idempotent sweep+move.
        import glob as globmod
        import shutil

        key = f"{run_id}/{batch_id}"
        if txn_seen(index_dir, key):
            return
        encoded = encode_with_meta(batch, meta)
        stage = tempfile.mkdtemp(
            dir=index_dir, prefix=f"_stage_{run_id}_{batch_id}_"
        )
        w = encoded.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("cell")
        w.parquet(stage)
        prefix = f"b{run_id}-{batch_id}-"
        for old_file in globmod.glob(
            os.path.join(codes_dir, "**", f"{prefix}*.parquet"),
            recursive=True,
        ):
            os.remove(old_file)
        for root, _dirs, files in os.walk(stage):
            rel = os.path.relpath(root, stage)
            dst_dir = codes_dir if rel == "." else os.path.join(codes_dir, rel)
            parquets = sorted(f for f in files if f.endswith(".parquet"))
            if parquets:
                os.makedirs(dst_dir, exist_ok=True)
            for i, f in enumerate(parquets):
                os.replace(
                    os.path.join(root, f),
                    os.path.join(dst_dir, f"{prefix}part-{i:05d}.parquet"),
                )
        shutil.rmtree(stage, ignore_errors=True)
        txn_record(index_dir, key)

    try:
        with pinned_stream_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(append)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # the index lives under index_dir, never the checkpoint
        if own_ckpt:
            _shutil.rmtree(ckpt, ignore_errors=True)
