"""Streaming deduplication — the exact-dedup operator as a stream.

The LLM-ingest shape: documents arrive continuously; duplicates (same
content hash) must be dropped online, not in a nightly batch.  Spark
primitive: ``dropDuplicatesWithinWatermark`` keyed on the md5 content
hash — state holds one entry per hash seen within the watermark horizon
(bounded state, unlike ``dropDuplicates`` on an unbounded stream), and
the shuffle key is the 32-byte hash, never the document text — the same
scale rule as queries/dedup.py::dedup_exact.

On a static directory drained with ``availableNow`` every duplicate
falls inside one micro-batch, so the result equals the batch
first-seen-per-hash dedup — the test contract
(tests/test_sources_and_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .source import docs_stream


def dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    glob: str = "documents.parquet",
) -> DataFrame:
    """Streaming DataFrame of first-seen documents per content hash,
    deduplicated within a one-hour watermark.

    Schema is probed from the files; ``docs_stream`` synthesizes a
    deterministic event-time when the table carries none (the current
    testdata's documents table has no ts column)."""
    stream = docs_stream(spark, docs_dir, glob).withColumn(
        "text_hash", F.md5("text")
    )
    return (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("doc_id", "text_hash", "source")
    )


def run_dedup_available_now(
    spark: SparkSession, docs_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """Drain a static directory once; returns the surviving documents."""
    from . import drain_available_now

    return drain_available_now(dedup_stream(spark, docs_dir, glob), "dedupstream", "append")
