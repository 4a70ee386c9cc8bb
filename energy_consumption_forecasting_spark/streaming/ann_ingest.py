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
    import glob as globmod
    import os
    import shutil
    import tempfile

    from . import fold_available_now, run_id_for_checkpoint
    from .source import stream_source

    _, meta = load_ann_index(spark, index_dir)
    codes_dir = os.path.join(index_dir, "codes")
    partitioned = meta.get("centroids") is not None

    stream = stream_source(
        spark, vectors_dir, glob, maxFilesPerTrigger=max_files_per_trigger
    ).select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("v")
    )

    # sweep stage dirs orphaned by crashed earlier attempts of THIS
    # lineage only — a concurrent ingest with its own checkpoint may
    # have a live stage under the same index_dir, and sweeping it
    # would silently drop that run's batch.  An ephemeral checkpoint
    # is a fresh lineage, which has no orphans.
    if checkpoint_dir is not None:
        lineage = run_id_for_checkpoint(checkpoint_dir)
        for orphan in globmod.glob(
            os.path.join(index_dir, f"_stage_{lineage}_*")
        ):
            shutil.rmtree(orphan, ignore_errors=True)

    def append(batch: DataFrame, key: str) -> None:
        # A plain mode("append") would duplicate every replayed
        # vector, so the step is idempotent on its own: (1) stage the
        # batch INSIDE index_dir (same filesystem, so os.replace stays
        # an atomic rename — /tmp may be a different mount), (2) sweep
        # any files a half-finished earlier attempt left, then move
        # the parts in under DETERMINISTIC key-prefixed names — after
        # any COMPLETED attempt the codes dir holds exactly that
        # attempt's files.  A crash before the fold records the key
        # just makes the replay redo the idempotent sweep+move.
        run_id, batch_id = key.split("/")
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

    fold_available_now(stream, index_dir, append, checkpoint_dir)
