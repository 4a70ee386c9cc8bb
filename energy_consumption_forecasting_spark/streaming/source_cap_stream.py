"""Streaming per-source frequency capping — mergeable bounded top-k.

The streaming twin of ``pipeline_source_cap`` (queries/pipeline_ops.py):
documents arrive in micro-batches and each source's kept set must stay
the cap-smallest content-hash keys seen SO FAR.  "Keep the k smallest"
is a semilattice (merge = sorted-union-truncate, associative,
commutative, idempotent), so the folded state is independent of batch
boundaries and arrival order — the drained result equals the batch
operator bit-for-bit, asserted by sharing its oracle verbatim.

State shape: one row per source holding ≤ cap keys (KB-sized per
source regardless of stream rate); each batch's delta is itself
pre-truncated by the batch operator's spill-safe window rank before
the merge, so no unbounded buffer exists anywhere.  Snapshot-versioned
state + lineage-scoped txn keys give exactly-once folds under replay
(``streaming.fold_available_now``, shared by every exactly-once sink).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# one source of truth with the batch operator
from ..queries.pipeline_ops import SOURCE_CAP, TOPK_SQL
from ..sources.versioned import commit_snapshot, snapshots, vacuum, versions
from .source import docs_stream

_RESULT_SCHEMA = "source string, keep_rank int, doc_id long"
_STATE_SCHEMA = "source string, ks array<struct<k:string,doc_id:bigint>>"


def _batch_topk(batch: DataFrame) -> DataFrame:
    """(source, ks array<struct<k, doc_id>>) — the batch's own
    cap-smallest keys, via the batch operator's window top-k."""
    top = batch.sparkSession.sql(TOPK_SQL, docs=batch)
    # state carries (k, doc_id) STRUCTS: sorting/dedup still key on k
    # (struct order is field-by-field and k embeds doc_id uniquely),
    # and the exact doc_id rides along — re-parsing it out of the
    # string breaks for negative or >= 1e12 ids.
    return top.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("k", "doc_id"))).alias("ks")
    )


def _merge(prior: DataFrame | None, delta: DataFrame) -> DataFrame:
    if prior is None:
        return delta
    p = prior.select(F.col("source").alias("psrc"), F.col("ks").alias("pks"))
    d = delta.select(F.col("source").alias("dsrc"), F.col("ks").alias("dks"))
    # eqNullSafe: a plain equi-join never matches NULL source keys, so
    # NULL-source state would duplicate on every fold instead of
    # merging (the batch op and oracle treat NULL as one group)
    merged = p.join(
        d, F.col("psrc").eqNullSafe(F.col("dsrc")), "full"
    ).select(
        F.coalesce(F.col("psrc"), F.col("dsrc")).alias("source"),
        F.slice(
            # array_distinct BEFORE the truncate: the union must be a
            # SET union or the merge is not idempotent — re-folding a
            # key already in the state would duplicate it, burn cap
            # slots, and emit the same doc twice (caught by the
            # hypothesis semilattice test).
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col("pks"), F.array()),
                        F.coalesce(F.col("dks"), F.array()),
                    )
                )
            ),
            1,
            SOURCE_CAP,
        ).alias("ks"),
    )
    return merged


def run_source_cap_available_now(
    spark: SparkSession,
    docs_dir: str,
    table_dir: str,
    glob: str = "documents.parquet",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the directory, folding each batch's top-k into versioned
    state; returns (source, keep_rank, doc_id) like the batch op."""
    from . import fold_available_now, txn_note

    stream = docs_stream(
        spark, docs_dir, glob, maxFilesPerTrigger=max_files_per_trigger
    )

    def fold(batch: DataFrame, key: str) -> None:
        delta = _batch_topk(batch)
        prior = (
            _read_state(batch.sparkSession, table_dir)
            if versions(table_dir)
            else None
        )
        commit_snapshot(_merge(prior, delta), table_dir, note=txn_note(key))

    fold_available_now(stream, table_dir, fold, checkpoint_dir)

    if not versions(table_dir):
        # zero batches drained (empty source): the batch op returns an
        # empty frame, so the stream gate must too
        return spark.createDataFrame([], _RESULT_SCHEMA)
    out = _read_final_state(spark, table_dir)
    # gate hygiene: intermediate snapshots are dead once the final
    # state is read — keep only the newest (the drain is gate-only;
    # a production deployment owns its table_dir lifecycle)
    vacuum(table_dir, keep_last=1)
    return out


def _state_dir(table_dir: str) -> str:
    """The latest state snapshot's data directory: the fold commits
    whole snapshots (commit_snapshot), one data directory per version
    and no delete files."""
    return os.path.join(table_dir, snapshots(table_dir)[-1]["dir"])


def _read_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The latest state snapshot, read with its fixed schema: parquet
    schema inference would run a Spark job per fold batch."""
    return spark.read.schema(_STATE_SCHEMA).parquet(_state_dir(table_dir))


def _read_final_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The latest snapshot exploded to (source, keep_rank, doc_id), as
    a frame that no longer reads ``table_dir``.

    The state is sources × cap keys, so it is usually tiny: when its
    parquet footers put it under the broadcast budget it is read and
    exploded on the driver with pyarrow and returned as an Arrow local
    relation — no Spark job.  Above the budget, or when the footers
    cannot be probed, Spark reads and explodes it and
    ``localCheckpoint`` materializes the result."""
    from ..operators.single_task import fits
    from ..tables import footer_bytes

    path = _state_dir(table_dir)
    if fits(spark, footer_bytes(path)):
        return spark.createDataFrame(_explode_on_driver(path), _RESULT_SCHEMA)
    state = _read_state(spark, table_dir)
    return (
        state.select("source", F.posexplode("ks").alias("pos", "e"))
        .select(
            "source",
            (F.col("pos") + 1).cast("int").alias("keep_rank"),
            F.col("e.doc_id").alias("doc_id"),
        )
        .localCheckpoint(eager=True)
    )


def _explode_on_driver(path: str):
    """posexplode of a state snapshot in pyarrow: one row per kept key,
    ``keep_rank`` its 1-based position in the sorted ``ks``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    state = pq.read_table(path, columns=["source", "ks"])
    ks = state.column("ks").combine_chunks()
    parent = pc.list_parent_indices(ks).to_numpy()
    lengths = pc.list_value_length(ks).fill_null(0).to_numpy()
    starts = np.cumsum(lengths) - lengths
    return pa.table(
        {
            "source": state.column("source").take(parent),
            "keep_rank": pa.array(
                np.arange(len(parent)) - starts[parent] + 1, pa.int32()
            ),
            "doc_id": ks.flatten().field("doc_id"),
        }
    )
