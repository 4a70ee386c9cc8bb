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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.versioned import (
    commit_snapshot,
    read_snapshot,
    vacuum,
    versions,
)
from .source import docs_stream

from ..queries.pipeline_ops import SOURCE_CAP, _CAP_SALTS as _SALTS  # noqa: E501  shared with the batch operator — one source of truth


def _batch_topk(batch: DataFrame) -> DataFrame:
    """(source, ks array<string>) — the batch's own cap-smallest keys,
    via the same two-level window rank as the batch operator."""
    docs = batch.select(
        "source",
        "doc_id",
        F.concat(
            F.md5(F.coalesce(F.col("text"), F.lit(""))),
            F.lit("-"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ).alias("k"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy("k")
    pruned = docs.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= SOURCE_CAP
    )
    # state carries (k, doc_id) STRUCTS: sorting/dedup still key on k
    # (struct order is field-by-field and k embeds doc_id uniquely),
    # and the exact doc_id rides along — re-parsing it out of the
    # string breaks for negative or >= 1e12 ids.
    return pruned.groupBy("source").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("k", "doc_id"))),
            1,
            SOURCE_CAP,
        ).alias("ks")
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
            read_snapshot(batch.sparkSession, table_dir)
            if versions(table_dir)
            else None
        )
        commit_snapshot(_merge(prior, delta), table_dir, note=txn_note(key))

    fold_available_now(stream, table_dir, fold, checkpoint_dir)

    if not versions(table_dir):
        # zero batches drained (empty source): the batch op returns an
        # empty frame, so the stream gate must too
        return spark.createDataFrame(
            [], "source string, keep_rank int, doc_id long"
        )
    state = read_snapshot(spark, table_dir)
    out = state.select(
        "source", F.posexplode("ks").alias("pos", "e")
    ).select(
        "source",
        (F.col("pos") + 1).cast("int").alias("keep_rank"),
        F.col("e.doc_id").alias("doc_id"),
    )
    # gate hygiene: intermediate snapshots are dead once the final
    # state is read — keep only the newest (the drain is gate-only;
    # a production deployment owns its table_dir lifecycle)
    vacuum(table_dir, keep_last=1)
    return out
