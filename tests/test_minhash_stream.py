"""Streaming MinHash near-dup: drain == batch banding truth, and
first-writer-wins holds across micro-batches."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.streaming.minhash_stream import (
    run_minhash_dedup_available_now,
)

SF_SMALL = "/root/testdata/sf0.001"


def _batch_truth(spark):
    """Per-doc min first-writer over all colliding bands, computed with
    the SAME sketch expressions in plain batch."""
    from energy_consumption_forecasting_spark.queries.dedup import (
        _band_rows,
        minhash_sigs_frame,
        shingle_arrays_frame,
        tokens_frame,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    bands = _band_rows(
        minhash_sigs_frame(shingle_arrays_frame(tokens_frame(docs)))
    )
    firsts = bands.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("first"), F.count("*").alias("n")
    )
    return {
        (r["doc_id"], r["dup_of"])
        for r in bands.join(firsts, ["band", "bucket"])
        .filter((F.col("n") >= 2) & (F.col("doc_id") != F.col("first")))
        .groupBy("doc_id")
        .agg(F.min("first").alias("dup_of"))
        .collect()
    }


def test_stream_drain_equals_batch_banding(spark):
    got = {
        (r["doc_id"], r["dup_of"])
        for r in run_minhash_dedup_available_now(spark, SF_SMALL).collect()
    }
    want = _batch_truth(spark)
    assert got == want
    assert len(got) > 0  # the testdata contains near-dups by construction


@pytest.fixture(scope="module")
def split_docs(spark, tmp_path_factory):
    """documents split so high doc_ids arrive in batch 1 and low ids in
    batch 2 — adversarial for first-writer-wins."""
    import glob as g
    import os

    split_dir = tmp_path_factory.mktemp("minhash_split")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    os.makedirs(f"{split_dir}/files", exist_ok=True)
    # lexicographic file order drives FileStreamSource batch order:
    # 'a_high' (doc_id > mid) drains before 'b_low'
    for fname, pred in (
        ("a_high", F.col("doc_id") > mid),
        ("b_low", F.col("doc_id") <= mid),
    ):
        docs.filter(pred).coalesce(1).write.parquet(f"{split_dir}/tmp_{fname}")
        src = g.glob(f"{split_dir}/tmp_{fname}/part-*.parquet")[0]
        shutil.copy(src, f"{split_dir}/files/{fname}.parquet")
    return f"{split_dir}/files"


def test_first_writer_wins_across_batches(spark, split_docs):
    verdicts = {
        r["doc_id"]: r["dup_of"]
        for r in run_minhash_dedup_available_now(
            spark, split_docs, glob="*.parquet", max_files_per_trigger=1
        ).collect()
    }
    assert len(verdicts) > 0
    # at least one low-id doc must have been flagged against a HIGHER
    # earlier-arrived id — impossible under batch min-id semantics,
    # exactly right under arrival semantics
    assert any(doc < dup for doc, dup in verdicts.items())
    # and nothing is ever its own duplicate
    assert all(doc != dup for doc, dup in verdicts.items())


def test_stream_cms_matches_batch(spark):
    """Integer-additive sketch state: the streamed CMS report equals
    the one-shot batch sketch bit-for-bit."""
    from energy_consumption_forecasting_spark.queries.behavior import (
        sketch_cms_heavyhitters,
    )
    from energy_consumption_forecasting_spark.queries.extensions import (
        stream_cms_heavyhitters,
    )

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in stream_cms_heavyhitters(spark, sf).collect()}
    ref = {tuple(r) for r in sketch_cms_heavyhitters(spark, sf).collect()}
    assert got == ref and got


def test_stream_hll_distinct_matches_batch(spark):
    """HLL registers merge by max — order- and batch-independent — so
    the streamed approx_count_distinct equals the batch sketch exactly
    (same implementation, same data, any micro-batch split)."""
    from energy_consumption_forecasting_spark.streaming import (
        drain_available_now,
    )
    from energy_consumption_forecasting_spark.streaming.source import (
        docs_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    stream = docs_stream(spark, sf_dir, "documents.parquet",
                         maxFilesPerTrigger=1)
    got = drain_available_now(
        stream.groupBy("lang").agg(
            F.approx_count_distinct("source", 0.02).alias("n_src")
        ),
        "hll_gate",
    )
    ref = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.approx_count_distinct("source", 0.02).alias("n_src"))
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in ref.collect()
    }
