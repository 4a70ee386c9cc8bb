"""Property tests for the LLM corpus-pipeline operators
(queries/pipeline_ops.py): chunk coverage/overlap invariants,
contamination symmetry, sampling determinism, scrub completeness."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.queries.pipeline_ops import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    _EMAIL_RE,
    _PHONE_RE,
    pipeline_chunk_documents,
    pipeline_contamination,
    pipeline_pii_scrub,
    pipeline_stratified_sample,
)
from tests.conftest import SF_SMALL, pinned_budget


def test_chunk_invariants(spark):
    chunks = pipeline_chunk_documents(spark, SF_SMALL)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.max(F.col("chunk_start") + F.col("chunk_tokens") - 1).alias("covered"),
        F.max("chunk_tokens").alias("max_tokens"),
        F.min("chunk_start").alias("first_start"),
    )
    joined = per_doc.join(docs, "doc_id").collect()
    assert joined, "no documents"
    for r in joined:
        # every token lands in some chunk, chunks never exceed the window
        assert r.covered == r.n
        assert r.max_tokens <= CHUNK_SIZE
        assert r.first_start == 1
        # chunk count matches the stride formula
        expected = 1 + max(0, -(-(r.n - CHUNK_SIZE) // CHUNK_STRIDE))
        assert r.n_chunks == max(1, expected)


def test_contamination_excludes_eval_docs(spark):
    out = pipeline_contamination(spark, SF_SMALL)
    rows = out.collect()
    # train-side report only, and hit counts are sane
    for r in rows:
        assert r.doc_id % 50 != 0
        assert r.n_hits >= r.n_distinct_grams >= 1


def test_stratified_sample_deterministic(spark):
    a = {r.doc_id for r in pipeline_stratified_sample(spark, SF_SMALL).collect()}
    b = {r.doc_id for r in pipeline_stratified_sample(spark, SF_SMALL).collect()}
    assert a == b
    total = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert 0 < len(a) < total


def test_pii_scrub_removes_injected_pii(spark):
    out = pipeline_pii_scrub(spark, SF_SMALL)
    rows = out.collect()
    for r in rows:
        assert r.n_emails >= 1 and r.n_phones >= 1
    # independently rebuild one augmented doc and confirm the scrub
    # output the query hashed contains no PII pattern
    doc = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .orderBy("doc_id")
        .first()
    )
    aug = f"{doc.text} contact user{doc.doc_id}@example.com or 555-{doc.doc_id % 1000 + 100}"
    scrubbed = re.sub(_PHONE_RE, "<PHONE>", re.sub(_EMAIL_RE, "<EMAIL>", aug))
    assert not re.search(_EMAIL_RE, scrubbed)
    assert not re.search(_PHONE_RE, scrubbed)
    assert "<EMAIL>" in scrubbed and "<PHONE>" in scrubbed


def test_rollup_partition_pruning_and_exactness(spark):
    import contextlib
    import io

    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.rollup import (
        materialize_daily,
        reaggregate,
    )

    daily = materialize_daily(spark, SF_SMALL)
    pruned = daily.filter(F.col("y") == 1997)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "1997" in plan.split("PartitionFilters")[1].split("]")[0]

    # sum-of-sums exactness: monthly from daily == monthly from facts
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    direct = (
        li.groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("period"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )
    via_daily = reaggregate(daily, "month").select("period", "n", "total_qty")
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, via_daily.collect()))
    assert a == b and len(a) > 0


def test_pq_ann_recall_vs_exact(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ann import (
        pq_encode_lazy,
        pq_fit_frame,
        pq_topk_table_lazy,
    )

    e = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    fit = pq_fit_frame(e, m=8, k=16)
    encoded = pq_encode_lazy(e, fit, m=8)

    rows = sorted((r.vec_id, np.array(r.v)) for r in e.collect())
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    qn = 5
    q = e.filter(F.col("vec_id").isin(ids[:qn].tolist()))
    out = pq_topk_table_lazy(encoded, q, fit, k_neighbors=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(r.vec_id)

    hits = total = 0
    for qi in range(qn):
        exact = ids[np.argsort(((X - X[qi]) ** 2).sum(axis=1), kind="stable")[:5]]
        assert len(got[ids[qi]]) == 5
        hits += len(set(exact.tolist()) & set(got[ids[qi]]))
        total += 5
    recall = hits / total
    # PQ on random (worst-case) data: require self-match + real overlap
    assert recall >= 0.2, f"recall {recall}"
    for qi in range(qn):
        assert ids[qi] in got[ids[qi]]  # own vector must be retrieved


def test_ivfpq_retrieves_own_vector(spark):
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ann import (
        ivf_assign_lazy,
        ivf_fit_frame,
        pq_encode_lazy,
        pq_fit_frame,
        pq_topk_table_lazy,
    )

    e = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    ivf_fit = ivf_fit_frame(e, n_cells=8)
    fit = pq_fit_frame(e, m=8, k=16)
    encoded = pq_encode_lazy(e, fit, m=8).join(
        ivf_assign_lazy(e, ivf_fit).select("vec_id", "cell"), "vec_id"
    )
    q = e.filter(F.col("vec_id") < 3)
    qids = [r.vec_id for r in q.collect()]
    out = pq_topk_table_lazy(
        encoded, q, fit, k_neighbors=5, ivf_fit=ivf_fit, nprobe=3
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    for qid in qids:
        assert 1 <= len(got[qid]) <= 5
        assert qid in got[qid]  # own cell is always probed -> own vector found


def test_opq_rotation_orthogonal_and_lowers_error(spark):
    """OPQ invariants: R is orthogonal (distances preserved), and the
    alternating optimization does not increase sample quantization
    error vs plain PQ with the same (m, k, sample)."""
    import numpy as np
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ann import (
        FIT_SAMPLE,
        opq_fit_frame,
        pq_fit_frame,
    )

    e = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    opq = opq_fit_frame(e, m=8, k=16).first()
    R = np.asarray(opq["rt"], dtype=np.float64).T  # rt holds R's columns
    opq_books = np.asarray(opq["books"], dtype=np.float64)
    dim = R.shape[0]
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-8)

    pq_books = np.asarray(
        pq_fit_frame(e, m=8, k=16).first()["books"],
        dtype=np.float64,
    )
    # the training sample both fits fold over: first FIT_SAMPLE by vec_id
    X = np.asarray(
        e.orderBy("vec_id").limit(FIT_SAMPLE).toPandas()["v"].tolist(),
        dtype=np.float64,
    )

    def quant_err(Xm, books):
        m, k, sub = books.shape
        err = 0.0
        for j in range(m):
            Xj = Xm[:, j * sub : (j + 1) * sub]
            d = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            err += d.min(axis=1).sum()
        return err

    e_pq = quant_err(X, pq_books)
    e_opq = quant_err(X @ R, opq_books)
    assert e_opq <= e_pq * 1.001


def test_bpe_merges_hand_computed(spark):
    """learn_bpe on a tiny corpus must reproduce the hand-derived merge
    sequence: ab (w=5) -> aa (tie broken by pair order) -> aa+ab."""
    from energy_consumption_forecasting_spark.operators.bpe import (
        _merge_pair,
        learn_bpe,
    )

    df = spark.createDataFrame([("aaab", 2), ("ab", 3)], "w string, cnt long")
    assert learn_bpe(df, 3) == [("a", "b", 5), ("a", "a", 2), ("aa", "ab", 2)]

    # non-overlapping left-to-right merge: aaa + (a,a) -> [aa, a]
    d = spark.createDataFrame([(["a", "a", "a"],)], "syms array<string>")
    got = d.select(_merge_pair(F.col("syms"), "a", "a").alias("m")).collect()
    assert got[0]["m"] == ["aa", "a"]


def test_bpe_encode_hand_example(spark):
    """Encode applies merges lowest-rank-first until none applies —
    each case below hand-traced in the asserts."""
    from energy_consumption_forecasting_spark.operators.bpe import (
        bpe_encode_words,
    )

    words = spark.createDataFrame(
        [("lower",), ("follow",), ("xyz",), ("lo",)], "w string"
    )
    merges = [("l", "o"), ("lo", "w")]
    got = {
        r["w"]: list(r["tokens"])
        for r in bpe_encode_words(words, merges).collect()
    }
    # lower: l,o,w,e,r -> lo,w,e,r -> low,e,r
    assert got["lower"] == ["low", "e", "r"]
    # follow: f,o,l,l,o,w -> f,o,l,lo,w -> f,o,l,low
    assert got["follow"] == ["f", "o", "l", "low"]
    # no applicable merge: stays characters
    assert got["xyz"] == ["x", "y", "z"]
    # whole word becomes one token
    assert got["lo"] == ["lo"]


def test_bpe_encode_respects_rank_order(spark):
    """When two merges both apply, the LOWER rank fires first even if
    it appears later in the word."""
    from energy_consumption_forecasting_spark.operators.bpe import (
        bpe_encode_words,
    )

    words = spark.createDataFrame([("abab",)], "w string")
    # rank0 merges the second pair's symbols; rank1 would merge (a,b)
    merges = [("b", "a"), ("a", "b")]
    got = list(bpe_encode_words(words, merges).collect()[0]["tokens"])
    # a,b,a,b -> (b,a) at idx 1 fires first: a,ba,b -> no (b,a) left;
    # (a,b)? pairs now (a,ba),(ba,b) — neither is (a,b): done
    assert got == ["a", "ba", "b"]


def test_substring_dedup_exact_spans(spark, tmp_path, monkeypatch):
    """Hand-built corpus pins the exact-span semantics: maximal merge of
    overlapping duplicated windows, same-doc repeats counted, unique
    text produces no span."""
    import energy_consumption_forecasting_spark.queries.pipeline_ops as po

    L = po.SUBSTR_WINDOW  # 20
    shared = " ".join(f"tok{i}" for i in range(L + 5))  # 25-token passage
    uniq_a = " ".join(f"ua{i}" for i in range(7))
    uniq_b = " ".join(f"ub{i}" for i in range(9))
    rep = " ".join(f"r{i}" for i in range(L))  # 20 tokens repeated in ONE doc
    rows = [
        # doc 1: unique prefix + shared passage  -> span over the passage
        (1, uniq_a + " " + shared),
        # doc 2: shared passage + unique suffix  -> span at the front
        (2, shared + " " + uniq_b),
        # doc 3: the same 20 tokens twice in one doc (plus separators)
        (3, rep + " sep0 sep1 sep2 sep3 sep4 " + rep),
        # doc 4: all-unique filler, >= L tokens, no duplicate window
        (4, " ".join(f"zz{i}" for i in range(L + 3))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    out = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in po.pipeline_substring_dedup_exact(
            spark, str(tmp_path)
        ).collect()
    }
    # doc1: shared passage occupies tokens 8..32 (7 unique + 25 shared)
    assert (1, 8, 7 + L + 5) in out
    # doc2: passage at tokens 1..25
    assert (2, 1, L + 5) in out
    # doc3: both copies of the repeated 20-gram are spans; the unique
    # 5-token separator keeps them apart (gap 25 > L)
    assert (3, 1, L) in out and (3, L + 6, 2 * L + 5) in out
    # doc4: no duplicated window at all
    assert not any(d == 4 for d, *_ in out)
    assert len(out) == 4


def test_source_cap_bounded_and_deterministic(spark):
    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        SOURCE_CAP,
        pipeline_source_cap,
    )

    out = pipeline_source_cap(spark, SF_SMALL).collect()
    assert out, "no rows"
    per_src = {}
    for r in out:
        per_src.setdefault(r.source, []).append(r.keep_rank)
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .groupBy("source")
        .count()
        .collect()
    )
    counts = {r.source: r["count"] for r in docs}
    for src, ranks in per_src.items():
        # exactly min(cap, available) docs kept, ranks dense from 1
        assert sorted(ranks) == list(range(1, min(SOURCE_CAP, counts[src]) + 1))
    # deterministic under re-run
    out2 = pipeline_source_cap(spark, SF_SMALL).collect()
    assert {(r.source, r.keep_rank, r.doc_id) for r in out} == {
        (r.source, r.keep_rank, r.doc_id) for r in out2
    }


def test_source_cap_matches_window_rank(spark):
    """The shared SQL top-k (``TOPK_SQL``, one window whose rank
    filter the planner splits into a map-side partial and a final
    group limit) must equal a window row_number() written
    independently in the DataFrame API (the oracle's shape)."""
    from pyspark.sql import Window

    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        SOURCE_CAP,
        pipeline_source_cap,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        "source",
        F.concat(
            F.md5("text"),
            F.lit("-"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ).alias("k"),
    )
    w = Window.partitionBy("source").orderBy("k")
    ref = (
        docs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= SOURCE_CAP)
        .select("source", F.col("r").cast("int").alias("keep_rank"), "doc_id")
    )
    got = pipeline_source_cap(spark, SF_SMALL)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in ref.collect()}


def test_sq8_reconstruction_error_bounded(spark):
    """Dequantized vectors deviate from the originals by at most half a
    quantization step per dimension."""
    import numpy as np

    from energy_consumption_forecasting_spark.functions.vectors import as_double
    from energy_consumption_forecasting_spark.operators.ann import (
        _sq8_reconstruct_cols,
        sq8_encode_lazy,
        sq8_fit_frame,
    )

    e = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", as_double("embedding").alias("v"))
    )
    fit = sq8_fit_frame(e)
    ranges = fit.first()
    mins, maxs = ranges["mn"], ranges["mx"]
    enc = sq8_encode_lazy(e, fit)
    rec = enc.select("vec_id", _sq8_reconstruct_cols(F.col("code")).alias("rv"))
    joined = e.join(rec, "vec_id").collect()
    assert joined
    step = np.array(maxs) - np.array(mins)
    tol = step / 255.0 / 2.0 + 1e-9
    for r in joined:
        err = np.abs(np.array(r.v) - np.array(r.rv))
        assert (err <= tol).all()


def test_sq8_recall_vs_exact(spark):
    """SQ8 top-5 recalls most of the exact top-5 (64-dim synthetic)."""
    from energy_consumption_forecasting_spark.queries.similarity import (
        sim_sq8_topk,
        sim_topk_bruteforce,
    )

    sq = sim_sq8_topk(spark, SF_SMALL).collect()
    ex = sim_topk_bruteforce(spark, SF_SMALL).collect()
    sq_set = {(r.query_id, r.neighbor_id) for r in sq}
    ex_set = {(r.query_id, r.neighbor_id) for r in ex}
    recall = len(sq_set & ex_set) / len(ex_set)
    assert recall >= 0.8, f"SQ8 recall@5 {recall:.2f}"


def test_sq8_ivf_recall_vs_exact(spark):
    """IVF+SQ8 with nprobe=4/16 cells still recalls most of the exact
    top-5, and every neighbor comes from a probed cell."""
    from energy_consumption_forecasting_spark.queries.similarity import (
        sim_sq8_ivf_topk,
        sim_topk_bruteforce,
    )

    got = sim_sq8_ivf_topk(spark, SF_SMALL).collect()
    ex = sim_topk_bruteforce(spark, SF_SMALL).collect()
    got_set = {(r.query_id, r.neighbor_id) for r in got}
    ex_set = {(r.query_id, r.neighbor_id) for r in ex}
    recall = len(got_set & ex_set) / len(ex_set)
    assert recall >= 0.5, f"IVF+SQ8 recall@5 {recall:.2f}"
    # per-query ranks dense from 1
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def _split_docs(spark, tmp_path, n_files: int = 2) -> str:
    """SF_SMALL's documents split by doc_id mod ``n_files`` into that
    many files of one directory, so a drain with maxFilesPerTrigger=1
    sees ``n_files`` batches."""
    import os
    import shutil

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    src = str(tmp_path / "docs_split")
    os.makedirs(src)
    for i in range(n_files):
        sub = f"{src}/part{i}"
        docs.filter(F.col("doc_id") % n_files == i).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                shutil.move(f"{sub}/{f}", f"{sub}.parquet")
        shutil.rmtree(sub)
    return src


def test_stream_source_cap_split_batches_matches_batch(spark, tmp_path):
    """The min-k semilattice fold is batch-boundary-proof: splitting
    the corpus across micro-batches (maxFilesPerTrigger=1 over two
    half files) yields the same kept set as the batch operator."""
    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        pipeline_source_cap,
    )
    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        run_source_cap_available_now,
    )

    got = run_source_cap_available_now(
        spark,
        _split_docs(spark, tmp_path),
        str(tmp_path / "state"),
        glob="*.parquet",
        max_files_per_trigger=1,  # force one file per micro-batch
    )
    ref = pipeline_source_cap(spark, SF_SMALL)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in ref.collect()
    }


def test_stream_source_cap_fold_reads_state_without_inference(
    spark, tmp_path, monkeypatch
):
    """Every fold batch after the first reads the prior state with its
    fixed schema, so no batch runs a parquet schema-inference job: a
    4-batch drain runs at least 3 fewer jobs than the same drain whose
    state reads infer the schema, and both keep the same rows."""
    from energy_consumption_forecasting_spark.streaming import source_cap_stream
    from energy_consumption_forecasting_spark.sources.versioned import (
        read_snapshot,
    )

    src = _split_docs(spark, tmp_path, n_files=4)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def drain(state):
        before = dag.numTotalJobs()
        rows = source_cap_stream.run_source_cap_available_now(
            spark,
            src,
            str(tmp_path / state),
            glob="*.parquet",
            max_files_per_trigger=1,
        )
        return dag.numTotalJobs() - before, {tuple(r) for r in rows.collect()}

    jobs, rows = drain("state")
    monkeypatch.setattr(source_cap_stream, "_read_state", read_snapshot)
    inferring_jobs, inferring_rows = drain("state_inferred")
    assert rows == inferring_rows and rows
    assert inferring_jobs - jobs >= 3, (jobs, inferring_jobs)


@pytest.mark.parametrize("max_files", [None, 1])
def test_stream_source_cap_read_back_tiers_agree(spark, tmp_path, max_files):
    """The drained state reads back on the driver (pyarrow, under the
    broadcast budget) or through Spark (budget -1): both tiers give the
    same rows and the same schema, and neither reads the state table
    after the drain returns."""
    import shutil

    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        run_source_cap_available_now,
    )

    src = _split_docs(spark, tmp_path)

    def drain(tag):
        state = str(tmp_path / f"state_{tag}")
        out = run_source_cap_available_now(
            spark, src, state, glob="*.parquet", max_files_per_trigger=max_files
        )
        shutil.rmtree(state)
        return out.schema.simpleString(), sorted(tuple(r) for r in out.collect())

    driver = drain("driver")
    with pinned_budget(spark, -1):
        spark_tier = drain("spark")
    assert driver == spark_tier
    assert driver[0] == "struct<source:string,keep_rank:int,doc_id:bigint>"
    assert len(driver[1]) > 0


def test_stream_source_cap_zero_batch_drain_is_empty(spark, tmp_path):
    """A source whose glob matches no file drains zero batches and
    still returns the batch operator's empty result shape."""
    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        run_source_cap_available_now,
    )

    import shutil

    shutil.copy(f"{SF_SMALL}/documents.parquet", tmp_path / "documents.parquet")
    out = run_source_cap_available_now(
        spark, str(tmp_path), str(tmp_path / "state"), glob="none-*.parquet"
    )
    assert out.schema.simpleString() == (
        "struct<source:string,keep_rank:int,doc_id:bigint>"
    )
    assert out.collect() == []


def test_bpe_tiers_agree(spark, monkeypatch):
    """The driver-tier merge loop equals the distributed loop on the
    same word table — same argmax tie-breaks, same rewrites."""
    from energy_consumption_forecasting_spark.operators import bpe

    words = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select(F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    local = bpe.learn_bpe(words, n_merges=5)
    monkeypatch.setattr(bpe, "_LOCAL_VOCAB_MAX", -1)
    dist = bpe.learn_bpe(words, n_merges=5)
    assert local == dist and len(local) == 5
