"""Incremental ANN ingest: streamed codes == one-shot batch encode
under the same frozen quantizers, and search sees appended vectors."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.functions.vectors import as_double
from energy_consumption_forecasting_spark.sources.ann_index import (
    build_ann_index,
    load_ann_index,
    search_ann_index,
)
from energy_consumption_forecasting_spark.streaming.ann_ingest import (
    ingest_vectors_available_now,
)
from energy_consumption_forecasting_spark.tables import load_table

SF_SMALL = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )


def test_streamed_ingest_matches_batch_encode(spark, tmp_path):
    e = _emb(spark)
    base = e.filter(F.col("vec_id") < 400)
    newer = e.filter(F.col("vec_id") >= 400)

    # full index built in one shot = ground truth codes
    full_idx = str(tmp_path / "full")
    build_ann_index(e, full_idx, n_cells=8)

    # base index + streamed remainder under the SAME frozen quantizers
    # (quantizer training samples the first 2048 rows sorted by limit —
    # identical between the two builds only if the corpus prefix is the
    # same, so train on the full set and re-encode the base)
    incr_idx = str(tmp_path / "incr")
    build_ann_index(e, incr_idx, n_cells=8)
    # drop the codes of the "future" vectors to simulate a base index
    import shutil

    codes_dir = f"{incr_idx}/codes"
    base_codes = (
        spark.read.parquet(codes_dir).filter(F.col("vec_id") < 400)
    ).collect()
    shutil.rmtree(codes_dir)
    spark.createDataFrame(
        base_codes, "vec_id long, code array<int>, cell int"
    ).write.partitionBy("cell").parquet(codes_dir)

    # stage the newer vectors as parquet files and stream them in
    vec_dir = str(tmp_path / "arrivals")
    newer.select(
        "vec_id", F.col("v").cast("array<float>").alias("embedding")
    ).coalesce(2).write.parquet(vec_dir)
    ingest_vectors_available_now(spark, incr_idx, vec_dir)

    want = {
        (r["vec_id"]): (list(r["code"]), r["cell"])
        for r in spark.read.parquet(f"{full_idx}/codes").collect()
    }
    got = {
        (r["vec_id"]): (list(r["code"]), r["cell"])
        for r in spark.read.parquet(codes_dir).collect()
    }
    assert got == want and len(got) == 500


def test_search_sees_ingested_vectors(spark, tmp_path):
    e = _emb(spark)
    idx = str(tmp_path / "searchidx")
    build_ann_index(e.filter(F.col("vec_id") < 450), idx, n_cells=8)
    vec_dir = str(tmp_path / "late")
    e.filter(F.col("vec_id") >= 450).select(
        "vec_id", F.col("v").cast("array<float>").alias("embedding")
    ).coalesce(1).write.parquet(vec_dir)
    ingest_vectors_available_now(spark, idx, vec_dir)

    codes, _meta = load_ann_index(spark, idx)
    assert codes.count() == 500
    # a late vector queried against the index retrieves itself
    q = e.filter(F.col("vec_id") == 499)
    got = search_ann_index(spark, idx, q, k_neighbors=3).collect()
    assert any(r["vec_id"] == 499 for r in got)


def test_sq8_streaming_ingest_matches_batch_codes(spark, tmp_path):
    """Streaming SQ8 ingest under frozen min/max ranges produces the
    identical codes the batch build writes."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.functions.vectors import as_double
    from energy_consumption_forecasting_spark.sources.ann_index import (
        build_ann_index,
        encode_with_meta,
        load_ann_index,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", as_double("embedding").alias("v"))
    )
    idx = str(tmp_path / "sq8_idx")
    build_ann_index(e, idx, kind="sq8", n_cells=8)
    codes, meta = load_ann_index(spark, idx)
    batch_codes = {r.vec_id: (list(r.code), r.cell) for r in codes.collect()}

    stream_codes = {
        r.vec_id: (list(r.code), r.cell)
        for r in encode_with_meta(e, meta).collect()
    }
    assert stream_codes == batch_codes


def test_incremental_ingest_appends_new_files_once(spark, tmp_path):
    """Persistent-checkpoint ingest: a second drain encodes only the
    new file (no duplicates of the old one), a third with nothing new
    is a no-op — lineage-scoped txn keys, same-filesystem staging."""
    import os
    import shutil

    from energy_consumption_forecasting_spark.functions.vectors import as_double
    from energy_consumption_forecasting_spark.sources.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from energy_consumption_forecasting_spark.streaming.ann_ingest import (
        ingest_vectors_available_now,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", as_double("embedding").alias("v"))
    )
    idx = str(tmp_path / "idx")
    build_ann_index(e, idx, kind="sq8", n_cells=None)
    base = spark.read.parquet(f"{idx}/codes").count()

    src = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet", f"{src}/a.parquet"
    )
    ingest_vectors_available_now(spark, idx, src, glob="*.parquet",
                                 checkpoint_dir=ckpt)
    n1 = spark.read.parquet(f"{idx}/codes").count()
    assert n1 == 2 * base

    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet", f"{src}/b.parquet"
    )
    ingest_vectors_available_now(spark, idx, src, glob="*.parquet",
                                 checkpoint_dir=ckpt)
    n2 = spark.read.parquet(f"{idx}/codes").count()
    assert n2 == 3 * base, "new file must encode exactly once"

    ingest_vectors_available_now(spark, idx, src, glob="*.parquet",
                                 checkpoint_dir=ckpt)
    assert spark.read.parquet(f"{idx}/codes").count() == n2
    codes, _ = load_ann_index(spark, idx)
    assert codes.count() == n2


def test_ingest_duplicate_ids_in_one_drain_keep_code_cell_pairs(spark, tmp_path):
    """Two copies of one file in ONE drain: every vec_id lands exactly
    once per copy, each row carrying the code and cell of its own
    vector — repeated ids in a micro-batch must not multiply rows."""
    import os
    import shutil
    from collections import Counter

    e = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ann_index(e, idx, n_cells=8)
    base = Counter(
        (r.vec_id, tuple(r.code), r.cell)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )

    src = str(tmp_path / "vecs")
    os.makedirs(src)
    for name in ("a", "b"):
        shutil.copy(f"{SF_SMALL}/embeddings.parquet", f"{src}/{name}.parquet")
    ingest_vectors_available_now(spark, idx, src)

    got = Counter(
        (r.vec_id, tuple(r.code), r.cell)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert got == Counter({key: 3 for key in base})


def test_build_rejects_more_cells_than_the_fit_sample(spark, tmp_path):
    import pytest

    from energy_consumption_forecasting_spark.operators.ann import FIT_SAMPLE

    with pytest.raises(ValueError, match="n_cells"):
        build_ann_index(_emb(spark), str(tmp_path / "idx"),
                        n_cells=FIT_SAMPLE + 1)
