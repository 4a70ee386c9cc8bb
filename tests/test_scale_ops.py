"""Scale-technique tests: the bucketed-join no-exchange plan property,
partition pruning, and the bounded forms of the scale-critical
operators."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _write_bucketed(df, name: str, bucket_col: str, n_buckets: int) -> None:
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(name)
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # warehouse.dir is a static conf — the default ./spark-warehouse is
    # used; tables are dropped in the finally block (.gitignore'd).
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    _write_bucketed(li, "li_b", "l_orderkey", n_buckets=4)
    _write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b", "l_orderkey", 4
    )
    a = spark.table("li_b")
    b = spark.table("ord_b")
    # force SMJ path (no broadcast) to expose the bucketing benefit
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # co-bucketed tables: the join reads bucket files directly —
        # no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        # sanity: result matches the plain parquet join
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Calendar-partitioned layout: a month predicate must prune to the
    matching directories (PartitionFilters), not scan the table."""
    import io
    import contextlib

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "orders_by_month")
    orders.write.partitionBy("month").mode("overwrite").parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("month") == "1996-03")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "1996-03" in plan  # the literal reached the partition filter
    got = pruned.count()
    want = orders.filter(F.col("month") == "1996-03").count()
    assert got == want > 0


def test_dedup_cosine_lsh_subset_and_plan(spark):
    """The banded-LSH near-dup result is a subset of the exact all-pairs
    result (same cosine values on shared pairs), and its physical plan
    contains no cartesian/BNL join — the r1 scale-killer it replaced."""
    from energy_consumption_forecasting_spark.queries.dedup import (
        dedup_cosine_allpairs,
        dedup_embedding_cosine,
    )

    lsh_df = dedup_embedding_cosine(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lsh_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    lsh = {(r.vec_a, r.vec_b): r.cos_sim for r in lsh_df.collect()}
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_cosine_allpairs(spark, SF_SMALL).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]  # identical fold-dot cosine, bit-exact
    # banding recall: strong pairs (cos >= 0.6) should mostly collide
    strong = {k for k, v in exact.items() if v >= 0.6}
    if strong:
        got = len(strong & set(lsh)) / len(strong)
        assert got >= 0.5, f"recall on strong pairs too low: {got:.2f}"


def test_topk_blocked_large_query_table(spark):
    """The blocked ANN path with Q=100 (a query TABLE, not literals):
    results equal the JVM fold-cosine reference for sampled queries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
        cosine,
    )
    from energy_consumption_forecasting_spark.operators.ann import (
        topk_blocked,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") % 5 == 0)  # 100 of 500
    got = topk_blocked(e, q, k=3, rows_per_block=128)
    assert got.count() == 100 * 3

    # reference for a handful of queries via the broadcast-join shape
    sample_ids = [0, 105, 250]
    qs = e.filter(F.col("vec_id").isin(sample_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = e.join(F.broadcast(qs), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    got_map = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in got.filter(F.col("query_id").isin(sample_ids)).collect()
    }
    assert got_map == want


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined to a filtered dim must prune fact
    partitions via DPP — the scan's PartitionFilters carries a
    dynamicpruning subquery, and the join result equals the statically
    pruned equivalent."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    fact_dir = str(tmp_path / "dpp_fact")
    li.withColumn("y", F.year("l_shipdate")).write.partitionBy("y").parquet(
        fact_dir
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [(1996, "keep"), (1997, "drop")], "y int, tag string"
    )
    j = (
        fact.join(dim.filter(F.col("tag") == "keep"), "y")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower()
    want = (
        fact.filter(F.col("y") == 1996)
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .collect()[0]["q"]
    )
    assert j.collect()[0]["q"] == want


def test_semdedup_cells_scale_with_corpus(spark):
    """The r3 scale watch-list fix: dedup_semantic's dominance buckets
    are bounded by SEMDEDUP_TARGET_BUCKET regardless of corpus size —
    the refinement bit count grows with N so pair work is ~N·target
    (linear), never (N/labels)²."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries.dedup import (
        SEMDEDUP_TARGET_BUCKET as T,
        _min_rung_expr,
        _semdedup_sub_frame,
    )

    def expected_bits(n, c):
        """Smallest b in [0, 16] with c*T*2^b >= n, capped at 16."""
        return next((b for b in range(17) if c * T * (1 << b) >= n), 16)

    # the integer-only rung rule the frame instantiates, on literals
    cases = [(500, 10), (2000, 10), (10**9, 10_000), (10**9, 10), (1, 1)]
    got = spark.range(1).select(
        *[
            _min_rung_expr(F.lit(n).cast("long"), F.lit(c * T).cast("long"), 0, 16, 16)
            for n, c in cases
        ]
    ).first()
    assert list(got) == [expected_bits(n, c) for n, c in cases]
    assert expected_bits(500, 10) == 0  # gate SFs: inert
    assert expected_bits(10**9, 10) == 16  # capped

    # end-to-end: at sf0.1 the frame dedup_semantic pairs over refines
    # each label by the minimal bit count, and its (label, sub) buckets
    # are target-bounded
    e = _semdedup_sub_frame(spark, "/root/testdata/sf0.1")
    st = e.agg(
        F.count("*").alias("n"),
        F.countDistinct("label").alias("c"),
        F.min(F.length("sub")).alias("b_lo"),
        F.max(F.length("sub")).alias("b_hi"),
    ).first()
    b = expected_bits(st["n"], st["c"])
    assert b > 0  # the refinement actually engages at this SF
    assert st["b_lo"] == st["b_hi"] == b
    sizes = e.groupBy("label", "sub").count()
    # hyperplane bits split near-evenly; allow 2x headroom over target
    assert sizes.agg(F.max("count")).collect()[0][0] <= 2 * T


def test_observe_metrics_ride_the_job(spark):
    """`df.observe` collects pipeline metrics (row counts, token mass)
    as a side effect of the SAME action — the zero-extra-pass
    instrumentation hook a production corpus job exports to its
    metrics sink; values must equal a separate aggregate's."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    obs = Observation("corpus")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.approx_count_distinct("source").alias("n_sources_approx"),
    )
    # one real action drives both the data path and the metrics
    kept = observed.filter(F.col("n_chars") > 0).count()
    ref = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("c"),
        F.count_distinct("source").alias("s"),
    ).collect()[0]
    got = obs.get
    assert got["n_docs"] == ref["n"]
    assert got["total_chars"] == ref["c"]
    # DISTINCT aggregates are disallowed in observed metrics; the HLL
    # sketch is the sanctioned form (default 5% rsd)
    assert abs(got["n_sources_approx"] - ref["s"]) <= max(2, 0.1 * ref["s"])
    assert kept <= ref["n"]


def test_croston_carry_across_arrow_batches(spark):
    """The mapInPandas boundary-carry path: with tiny Arrow batches a
    part's rows straddle batch boundaries, and the carry must stitch
    them — compare against the same query under default batching."""
    from energy_consumption_forecasting_spark.queries.smoothing import (
        m27_croston,
    )

    sf = "/root/testdata/sf0.001"
    baseline = {
        (r["part"]): (r["n_sales"], r["demand_est"], r["interval_est"])
        for r in m27_croston(spark, sf).collect()
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # force many batches per partition
        tiny = {
            (r["part"]): (r["n_sales"], r["demand_est"], r["interval_est"])
            for r in m27_croston(spark, sf).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert tiny == baseline and len(baseline) > 0


def test_mega_basket_pairs_lossless_and_bounded(spark):
    """Round-4 VERDICT item 5 (r10 pipelined form): a 2,000-item basket
    (C(k,2) ≈ 2M pairs) must stream through the pipelined pair
    expansion in bounded time with counts identical to the dense
    formula, and a 100-item basket must produce exactly the dense pair
    set — no size threshold, one plan for every basket shape.  Both
    tiers run each case; the single-task tier's budget (one byte inside
    its rule) is 8,000 packed pairs, so it counts the 4M pairs in 500
    chunks, splitting each basket by element ranges."""
    import time

    from pyspark.sql import functions as F

    from tests.conftest import lines_frame, pair_counts_both_tiers

    # two identical mega-baskets (pair support 2 satisfies minsup;
    # every item appears in 2 baskets so the a-priori prune keeps all)
    k = 2000
    lines = lines_frame(spark, [(b, i) for b in (1, 2) for i in range(k)])
    for out in pair_counts_both_tiers(spark, lines, 2 * k):
        t0 = time.time()
        n_pairs = out.count()
        assert n_pairs == k * (k - 1) // 2
        assert time.time() - t0 < 120
        sample = out.filter(
            (F.col("p1") == 0) & (F.col("p2").isin(1, 63, 64, 1999))
        ).collect()
        assert {r["n"] for r in sample} == {2} and len(sample) == 4

    # 100-item basket: compare against the dense pair set
    k2 = 100
    lines2 = lines_frame(spark, [(b, i) for b in (1, 2) for i in range(k2)])
    want = {(a, b, 2) for a in range(k2) for b in range(a + 1, k2)}
    for out in pair_counts_both_tiers(spark, lines2, 2 * k2):
        assert {(r["p1"], r["p2"], r["n"]) for r in out.collect()} == want


def test_basket_pair_pack_rejects_negative_ids(spark):
    """Spark's div/% truncate toward zero, so a packed pair with a
    negative item id would unpack into the wrong pair; the pack guard
    must fail the query in-plan instead."""
    import pytest

    from energy_consumption_forecasting_spark.queries.basket import (
        pair_counts_from_lines,
    )

    lines = spark.createDataFrame(
        [(b, i) for b in (1, 2) for i in (-3, 5)],
        "l_orderkey long, l_partkey long",
    )
    with pytest.raises(Exception, match="basket pair key < 0"):
        pair_counts_from_lines(lines).collect()


def test_basket_pair_pack_rejects_ids_at_2_31(spark):
    """The pack's upper bound: an item id of exactly 2^31 would wrap
    into the next p1; both tiers must fail fast instead."""
    import pytest

    from tests.conftest import lines_frame, pair_counts_both_tiers

    rows = [(b, i) for b in (1, 2) for i in (5, 2**31)]
    for out in pair_counts_both_tiers(spark, lines_frame(spark, rows), len(rows)):
        with pytest.raises(Exception, match=r"basket pair key < 0 or >= 2\^31"):
            out.collect()


def test_doc_pair_pack_rejects_negative_ids(spark):
    import pytest

    from energy_consumption_forecasting_spark.queries.dedup import (
        _packed_pairs_from_members,
    )

    members = spark.createDataFrame([([-3, 5],)], "docs array<long>")
    with pytest.raises(Exception, match="doc pair key < 0"):
        _packed_pairs_from_members(members).collect()


def test_doc_pair_pack_rejects_ids_at_2_31(spark):
    import pytest

    from energy_consumption_forecasting_spark.queries.dedup import (
        _packed_pairs_from_members,
    )

    members = spark.createDataFrame([([5, 2**31],)], "docs array<long>")
    with pytest.raises(Exception, match=r"doc pair key < 0 or >= 2\^31"):
        _packed_pairs_from_members(members).collect()


def test_minhash_parameterization_prefix_consistent(spark):
    """The (n_perm, bands, rows) parameterization must nest: the first 8
    elements of a 16-perm signature are exactly the 8-perm signature
    (same digests, same slices), and 8x2 banding doubles band rows per
    doc vs 4x2."""
    from energy_consumption_forecasting_spark.queries.dedup import (
        _band_rows,
        minhash_sigs_frame,
        shingle_arrays_frame,
        tokens_frame,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs now")],
        "doc_id long, text string",
    )
    arrays = shingle_arrays_frame(tokens_frame(docs))
    s8 = {r["doc_id"]: r["sig"] for r in minhash_sigs_frame(arrays, n_perm=8).collect()}
    s16 = {r["doc_id"]: r["sig"] for r in minhash_sigs_frame(arrays, n_perm=16).collect()}
    for d in s8:
        assert s16[d][:8] == s8[d]
        assert len(s16[d]) == 16
    b4 = _band_rows(minhash_sigs_frame(arrays, n_perm=8), n_bands=4, rows=2).collect()
    b8 = _band_rows(minhash_sigs_frame(arrays, n_perm=16), n_bands=8, rows=2).collect()
    assert len(b4) == 2 * 4 and len(b8) == 2 * 8
    # the first 4 bands of the 16-perm sketch equal the 4x2 bands
    key = lambda r: (r["doc_id"], r["band"])  # noqa: E731
    m4 = {key(r): r["bucket"] for r in b4}
    m8 = {key(r): r["bucket"] for r in b8 if r["band"] < 4}
    assert m4 == m8


def test_dsir_fixed_point_tracks_log_pooled_weights(spark):
    """The registered DSIR score is the ln()-free fixed-point ratio-sum
    (cross-engine exactness rule); the PAPER's estimator is the
    log-ratio sum.  Pin the substitution: on the gate corpus the two
    rankings of the raw pool must agree strongly (Spearman rho), and
    the top-20 by either ranking must overlap heavily."""
    import math

    import numpy as np

    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        DSIR_SCALE,
        _dsir_scored,
    )
    from energy_consumption_forecasting_spark.queries._util import tbl
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    scored = {
        r["doc_id"]: r["score_fp"]
        for r in _dsir_scored(spark, sf).filter(~F.col("is_target")).collect()
    }

    # independent log-pooled recompute (numpy, from the same features)
    docs = (
        tbl(spark, sf, "documents")
        .select(
            "doc_id",
            (
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("source"))), 1, 1)
                < "4"
            ).alias("t"),
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias("a"),
        )
        .collect()
    )
    import hashlib

    def buckets(words):
        return [
            hashlib.md5(f"{w1} {w2}".encode()).hexdigest()[:2]
            for w1, w2 in zip(words, words[1:])
        ]

    ct: dict[str, int] = {}
    cr: dict[str, int] = {}
    per_doc = {}
    for r in docs:
        bs = buckets(list(r["a"]))
        per_doc[r["doc_id"]] = (r["t"], bs)
        tgt = ct if r["t"] else cr
        for b in bs:
            tgt[b] = tgt.get(b, 0) + 1
    log_w = {
        did: sum(
            math.log((ct.get(b, 0) + 1) / (cr.get(b, 0) + 1)) for b in bs
        )
        for did, (t, bs) in per_doc.items()
        if not t
    }
    # sanity: the engine's fixed-point u matches the hand algebra on a
    # few buckets
    some_doc = next(iter(log_w))
    _, bs = per_doc[some_doc]
    manual_fp = sum(
        ((ct.get(b, 0) + 1) * DSIR_SCALE) // (cr.get(b, 0) + 1) - DSIR_SCALE
        for b in bs
    )
    assert scored[some_doc] == manual_fp

    ids = sorted(log_w)
    a = np.array([scored[i] for i in ids], dtype=float)
    b = np.array([log_w[i] for i in ids], dtype=float)
    ra = np.argsort(np.argsort(a))
    rb = np.argsort(np.argsort(b))
    rho = np.corrcoef(ra, rb)[0, 1]
    assert rho > 0.95, f"fixed-point ranking diverged from log-pooled: rho={rho}"
    top_fp = set(np.array(ids)[np.argsort(-a)][:20])
    top_ln = set(np.array(ids)[np.argsort(-b)][:20])
    assert len(top_fp & top_ln) >= 12, (top_fp, top_ln)


def test_fim_transform_reconstruction_property(spark):
    """FIM/PSM must be information-preserving: re-assembling
    prefix+middle+suffix from the emitted PSM string reproduces the
    original token sequence exactly, for every transformed document —
    and untransformed docs pass through verbatim.  Also pins the
    deterministic apply rate (md5-selected, so it is a fixed property
    of the corpus, not a distributional assertion)."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries import load_all

    qs, _ = load_all()
    sf = "/root/testdata/sf0.01"
    out = {r["doc_id"]: r for r in qs["pipeline_fim_transform"](spark, sf).collect()}
    docs = {
        r["doc_id"]: [w for w in (r["text"] or "").lower().split() if w]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert set(out) == set(docs)
    n_applied = 0
    for did, toks in docs.items():
        r = out[did]
        assert r["n_tokens"] == len(toks), did
        if not r["fim_applied"]:
            assert r["input_text"] == " ".join(toks), did
            assert r["middle_len"] == 0
            continue
        n_applied += 1
        s = r["input_text"]
        assert s.startswith("<fim_pre> ")
        pre, rest = s[len("<fim_pre> "):].split(" <fim_suf> ", 1)
        suf, mid = rest.split(" <fim_mid> ", 1)
        rebuilt = (
            (pre.split() if pre else [])
            + (mid.split() if mid else [])
            + (suf.split() if suf else [])
        )
        assert rebuilt == toks, did
        assert r["middle_len"] == len(mid.split() if mid else []), did
        assert 1 <= r["middle_len"] <= max(len(toks), 1), did
    # md5-deterministic 50% gate: exact count is a corpus constant
    assert 0.4 * len(docs) <= n_applied <= 0.6 * len(docs)


def test_hilbert_code_matches_reference_and_beats_morton(spark):
    """The Hilbert kernel (the query path) must equal the textbook
    xy2d recurrence cell-for-cell (sampled grid), be a bijection on the
    grid, and deliver its advertised locality edge: mean per-bucket
    bounding-box area at the shared bucket width is no worse than the
    Morton layout's on the same keys."""
    from energy_consumption_forecasting_spark.queries.layout import (
        _HN,
        hilbert_code_arrow,
    )

    def xy2d_ref(x, y):
        d = 0
        s = _HN // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = (_HN - 1) - x, (_HN - 1) - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x * 37 % _HN, (x * 101 + 7) % _HN) for x in range(500)]
    df = spark.createDataFrame(pts, "xk int, yk int")
    got = {
        (r["xk"], r["yk"]): r["hcode"]
        for r in hilbert_code_arrow(df, "xk", "yk").collect()
    }
    assert len(got) == len(pts)
    for (x, y), h in got.items():
        assert h == xy2d_ref(x, y), (x, y)
    assert len(set(got.values())) == len(got)  # injective on the sample
    assert all(0 <= h < _HN * _HN for h in got.values())

    from energy_consumption_forecasting_spark.queries import load_all

    qs, _ = load_all()
    sf = "/root/testdata/sf0.01"

    def mean_area(name):
        rows = qs[name](spark, sf).collect()
        return sum(r["bbox_area"] for r in rows) / len(rows)

    hil, mor = mean_area("scale_hilbert_layout"), mean_area("scale_zorder_layout")
    assert hil <= mor, f"hilbert {hil} vs morton {mor}"


def _expected_cos_bits(n: int) -> int:
    """Python mirror of the count-derived banding rule (smallest b in
    [COS_MIN_BITS, COS_MAX_BITS] with BANDS*TARGET*2^b >= n)."""
    from energy_consumption_forecasting_spark.queries.dedup import (
        COS_BANDS,
        COS_MAX_BITS,
        COS_MIN_BITS,
        COS_TARGET_BUCKET,
    )

    for b in range(COS_MIN_BITS, COS_MAX_BITS + 1):
        if COS_BANDS * COS_TARGET_BUCKET * (1 << b) >= n:
            return b
    return COS_MAX_BITS


def test_cos_band_rows_adaptive_bits_recall(spark):
    """The round-8 count-derived banding is never pushed past b=4 at
    the gate SFs (embeddings <= 2000 rows), so pin it here on a
    synthetic 30k corpus with PLANTED near-dup pairs: the bit rule must
    pick the Python-mirrored rung (b=7 at N=30k), planted high-cosine
    twins must still collide at high recall (P = 1-(1-p^7)^4 with
    p = 1-theta/pi stays ~1 for cos >= 0.999), and bucket population
    must be bounded near the BANDS*TARGET design point, never the
    N/2^b-per-band blow-up of a fixed-bit scheme."""
    import numpy as np

    from energy_consumption_forecasting_spark.queries.dedup import (
        COS_BANDS,
        COS_BUCKET_CAP,
        _cos_band_rows,
        attach_rung_sig,
    )
    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
    )

    rng = np.random.RandomState(7)
    dim = 64  # PLANES64 plane width — shorter vectors NULL the dot
    n_base = 15_000
    base = rng.normal(size=(n_base, dim))
    # each base gets one tight near-dup twin (tiny perturbation)
    twin = base + rng.normal(scale=0.01, size=base.shape)
    vecs = np.vstack([base, twin])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the production fold path: rung-width sig from the in-plan count
    # (banding reads the band width structurally from length(sig))
    e = attach_rung_sig(
        df.select("vec_id", as_double("embedding").alias("v"))
    )

    want_bits = _expected_cos_bits(len(rows))
    assert want_bits == 8  # 128 * 2^8 = 32768 >= 30000, one fewer fails

    bands = _cos_band_rows(e).collect()
    buckets = {(r.band, r.bucket) for r in bands}
    assert all(len(b) == want_bits for _, b in buckets), "wrong bit rung"
    assert {r.band for r in bands} == set(range(COS_BANDS))

    # planted-pair recall: twin i+n_base must share >=1 (band, bucket)
    by_vec: dict[int, set] = {}
    for r in bands:
        by_vec.setdefault(r.vec_id, set()).add((r.band, r.bucket))
    hits = sum(
        1 for i in range(n_base) if by_vec[i] & by_vec[i + n_base]
    )
    recall = hits / n_base
    assert recall >= 0.95, f"adaptive-bits recall on planted twins: {recall:.3f}"

    # bounded population: random data stays far under the cap, near the
    # BANDS*TARGET design point (generous 4x headroom for skewed planes)
    from collections import Counter

    pop = Counter((r.band, r.bucket) for r in bands)
    assert max(pop.values()) <= COS_BUCKET_CAP
    assert max(pop.values()) < 4 * 256


def test_cos_bucket_cap_binds_on_planted_cluster(spark):
    """The COS_BUCKET_CAP backstop (r8 verdict item 2): adaptive bits
    bound the EXPECTED bucket population, but a planted 10k-identical
    cluster shares every sign bit and lands whole in one bucket per
    band — the cap must truncate it to its CAP lowest vec_ids, keeping
    per-bucket pair work at CAP² regardless of cluster size."""
    import numpy as np
    from collections import Counter

    from energy_consumption_forecasting_spark.queries.dedup import (
        COS_BUCKET_CAP,
        _cos_band_rows,
        attach_rung_sig,
    )
    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
    )

    rng = np.random.RandomState(11)
    dim = 64
    n_cluster, n_noise = 10_000, 2_000
    one = rng.normal(size=dim)
    vecs = [one] * n_cluster + list(rng.normal(size=(n_noise, dim)))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    e = attach_rung_sig(
        df.select("vec_id", as_double("embedding").alias("v"))
    )

    bands = _cos_band_rows(e).collect()
    pop = Counter((r.band, r.bucket) for r in bands)
    # the cap binds: the cluster's bucket is truncated at exactly CAP
    assert max(pop.values()) == COS_BUCKET_CAP
    # and the survivors in each capped bucket are the LOWEST vec_ids
    cluster_members = {
        r.vec_id
        for r in bands
        if r.band == 0 and pop[(0, r.bucket)] == COS_BUCKET_CAP
    }
    assert cluster_members == set(range(COS_BUCKET_CAP))


def test_cos_band_rows_500k_planted_twin_recall(spark):
    """The r7 verdict's scale ceiling, answered with a measurement: at
    a 500k-vector corpus (Spark-generated, deterministic md5 uniforms —
    no driver-side materialization) the count-derived rule must pick
    b=12 (128*2^12 = 524288 >= 500k), planted near-dup twins must keep
    near-complete recall (p=1-theta/pi ~ 0.998 at the twins' ~0.005 rad
    angle; P = 1-(1-p^12)^4 ~ 1-2e-7), and total candidate-pair work
    must stay LINEAR in N — the old two-rung design's 512-bucket
    ceiling put ~N^2/256 pairs here."""
    from energy_consumption_forecasting_spark.queries.dedup import (
        COS_BANDS,
        COS_BUCKET_CAP,
        COS_TARGET_BUCKET,
        _cos_band_rows,
        attach_rung_sig,
    )

    n_base = 250_000
    n_total = 2 * n_base
    assert _expected_cos_bits(n_total) == 12  # 128 * 2^12 = 524288 >= 500k

    def uniforms(id_col, salt: str):
        # 64 deterministic uniforms in [-1, 1) per id: 8 hex chars of a
        # salted md5 per dimension
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "_", id_col.cast("string"), F.lit(salt), j.cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(float(2**32))
            )
            * 2.0
            - 1.0,
        )

    base = spark.range(n_base).select(
        F.col("id").alias("vec_id"), uniforms(F.col("id"), "b").alias("v")
    )
    twins = spark.range(n_base).select(
        (F.col("id") + n_base).alias("vec_id"),
        F.zip_with(
            uniforms(F.col("id"), "b"),
            uniforms(F.col("id"), "t"),
            lambda x, y: x + 0.005 * y,
        ).alias("v"),
    )
    e = attach_rung_sig(
        base.unionByName(twins)
    ).localCheckpoint()  # sig computed once; bands + recall reuse it
    bands = _cos_band_rows(e)

    # bit rung + bounded pair work, computed Spark-side (no collect of
    # the 2M band rows): sum over buckets of C(pop, 2) must be linear
    # in N — the generous 8x headroom covers hyperplane skew
    pop = bands.groupBy("band", "bucket").agg(F.count("*").alias("c"))
    stats = pop.agg(
        F.max(F.length("bucket")).alias("blen"),
        F.max("c").alias("maxpop"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
    ).collect()[0]
    assert stats["blen"] == 12
    assert stats["maxpop"] <= COS_BUCKET_CAP
    assert stats["pairs"] <= 8 * COS_BANDS * COS_TARGET_BUCKET * n_total

    # planted-twin recall via a band-bucket self-join (Spark-side)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    hits = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.vec_id") + n_base == F.col("bb.vec_id")),
        )
        .select(F.col("ba.vec_id").alias("i"))
        .distinct()
        .count()
    )
    recall = hits / n_base
    assert recall >= 0.99, f"500k planted-twin recall: {recall:.4f}"


def test_pipelined_pair_expansion_matches_dense(spark):
    """_pairs_from_members (r10 pipelined form) must emit the EXACT
    (doc_a < doc_b) pair multiset of the dense definition on buckets of
    every shape — 2-element, odd, dozen-element, multi-bucket frames —
    and silently drop size-<2 arrays (F.sequence(1, 0) is DESCENDING in
    Spark; they must never reach the explode)."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries.dedup import (
        _pairs_from_members,
    )

    rows = [
        ("b0", "x", sorted([3, 1, 9, 7, 5, 2, 8])),
        ("b0", "y", sorted(range(100, 112))),
        ("b1", "x", [42, 77]),
        ("b1", "z", sorted(range(200, 203))),
        ("b2", "s", [999]),          # singleton: contributes nothing
        ("b2", "e", []),             # empty: contributes nothing
    ]
    members = spark.createDataFrame(
        [(b, k, sorted(d)) for b, k, d in rows],
        "band string, bucket string, docs array<long>",
    )
    got = sorted(
        (r.doc_a, r.doc_b) for r in _pairs_from_members(members).collect()
    )
    want = sorted(
        (a, b) for _, _, d in rows for i, a in enumerate(d) for b in d[i + 1 :]
    )
    assert got == want


def test_minhash_mega_bucket_streams_bounded_rows_100k(spark):
    """The r8 verdict's named scale-killer: a planted 100k-identical-doc
    bucket must NEVER materialize its k²/2 ≈ 5e9 pair structs in one
    row.  Structural proof on the REAL helper's plan (r10 pipelined
    form): the physical plan contains exactly two Generate nodes and no
    Join/flatten — GenerateExec streams, and inside one whole-stage
    pipeline the generated rows stay virtual until the shuffle
    boundary, where the docs column is already pruned (rows crossing
    are bare (doc_a, doc_b) pairs).  The largest array any row
    materializes is the k-element docs list or an i-prefix slice —
    O(k) longs, not O(k²) structs.  The index fan-out over the 100k
    bucket is verified by aggregation (k-1 scalar-i rows), never by
    exploding 5e9 pairs."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries.dedup import (
        _pairs_from_members,
    )

    k = 100_000
    # docs from DATA (agg), not a literal — a 100k-element literal
    # would constant-fold into the plan and measure codegen, not the op
    members = spark.range(k).agg(
        F.lit(0).alias("band"),
        F.lit("mega").alias("bucket"),
        F.array_sort(F.collect_list("id")).alias("docs"),
    )
    pairs = _pairs_from_members(members)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2, plan
    assert "Join" not in plan and "flatten" not in plan, plan
    # the first explode's fan-out is k-1 scalar-i rows (never pairs)
    step1 = members.select(
        F.explode(F.sequence(F.lit(1), F.size("docs") - 1)).alias("i")
    )
    assert step1.count() == k - 1


def test_minhash_mega_cluster_end_to_end(spark):
    """Mega clusters fully exploded through _pairs_from_members: count,
    distinctness and spot membership must equal the dense C(k,2) answer
    at k=3000 (4.5M pairs), and the full 20k-member expansion (2·10⁸
    pairs — 40× the r9 test's volume) must stream to a count in bounded
    time, proving the pipelined form loses nothing and scales past any
    chunk threshold."""
    import time

    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries.dedup import (
        _pairs_from_members,
    )

    k = 3000
    members = spark.range(k).agg(
        F.lit(0).alias("band"),
        F.lit("c").alias("bucket"),
        F.array_sort(F.collect_list("id")).alias("docs"),
    )
    pairs = _pairs_from_members(members)
    assert pairs.count() == k * (k - 1) // 2
    assert pairs.distinct().count() == k * (k - 1) // 2
    sample = {
        (r.doc_a, r.doc_b)
        for r in pairs.filter(
            F.col("doc_a").isin(0, 511, 512, 1023, 1024)
            & F.col("doc_b").isin(511, 512, 1023, 1024, 2999)
        ).collect()
    }
    for a, b in [(0, 511), (0, 512), (511, 512), (511, 1024), (1023, 1024),
                 (1024, 2999), (0, 2999), (512, 1023)]:
        assert (a, b) in sample

    k2 = 20_000
    members2 = spark.range(k2).agg(
        F.array_sort(F.collect_list("id")).alias("docs")
    )
    t0 = time.time()
    assert _pairs_from_members(members2).count() == k2 * (k2 - 1) // 2
    assert time.time() - t0 < 120


def test_rev_band_balance_guarded_across_sfs(spark):
    """_REV_BAND_E4's load-balance claim (band count ~1.1k, max band
    share < 1%) was measured, not guarded — a skewed catalog would
    silently degrade the within-band window toward one task.  Pin the
    two invariants the lazy-prefix-sum contract needs at both oracle
    SFs: band COUNT stays range/2^24 (bounded, ~1.1k, NOT growing with
    the catalog) and no band holds a dominant share of parts."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries._util import tbl
    from energy_consumption_forecasting_spark.queries.aggregates import (
        _REV_BAND_E4,
        _part_revenue,
    )

    by_sf = {}
    for sf in ("0.01", "0.1"):
        rev = _part_revenue(tbl(spark, f"/root/testdata/sf{sf}", "lineitem"))
        by_sf[sf] = (
            rev.groupBy((F.col("rev_e4") / _REV_BAND_E4).cast("long").alias("b"))
            .agg(F.count("*").alias("n"))
            .agg(
                F.count("*").alias("n_bands"),
                (F.max("n") / F.sum("n")).alias("share"),
            )
            .collect()[0]
        )
        # band count bounded by the value RANGE (range/2^24 ~ 1.1k),
        # and no dominant band (share <= 1%, vs the docstring's
        # measured 0.55%/0.31%)
        assert 100 <= by_sf[sf].n_bands <= 5000, (sf, by_sf[sf].n_bands)
        assert by_sf[sf].share <= 0.01, (sf, float(by_sf[sf].share))
    # size-invariance: a 10x catalog must NOT produce 10x bands — the
    # revenue range (and with it the band count) is set by the price
    # distribution, not N
    assert by_sf["0.1"].n_bands < 3 * by_sf["0.01"].n_bands
    # and the max share must FALL (or hold) as N grows
    assert by_sf["0.1"].share <= by_sf["0.01"].share * 1.2


def test_lazy_ann_fits_match_eager_trainers(spark):
    """r10 lazy fit frames: the SQ8 range frame must equal numpy's
    exact per-dimension min/max; the IVF fit's HOF cell assignment must
    equal a numpy argmin against its own collected centroids (pins the
    first-index tie rule and the attached-column algebra); PQ HOF
    encode must equal a numpy re-encode with the same books."""
    import numpy as np
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
    )
    from energy_consumption_forecasting_spark.operators.ann import (
        ivf_assign_lazy,
        ivf_fit_frame,
        pq_encode_lazy,
        pq_fit_frame,
        sq8_fit_frame,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    vecs = {r["vec_id"]: np.asarray(r["v"]) for r in e.collect()}
    # SQ8: lazy frame == numpy ranges over the collected vectors,
    # element-exact
    X = np.stack(list(vecs.values()))
    row = sq8_fit_frame(e).first()
    assert row["mn"] == X.min(axis=0).tolist()
    assert row["mx"] == X.max(axis=0).tolist()

    # IVF: HOF argmin assignment == numpy argmin on the same centroids
    fit = ivf_fit_frame(e, n_cells=16)
    cents = np.asarray(fit.first()["centroids"], dtype=np.float64)
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_lazy(e, fit).select("vec_id", "cell").collect()
    }
    for vid, v in vecs.items():
        want = int(((cents - v) ** 2).sum(axis=1).argmin())
        assert got[vid] == want, vid

    # PQ: HOF encode == numpy re-encode against the same books
    pfit = pq_fit_frame(e, m=8, k=16)
    books = np.asarray(pfit.first()["books"], dtype=np.float64)
    m, _, sub = books.shape
    codes = {
        r["vec_id"]: list(r["code"])
        for r in pq_encode_lazy(e, pfit, m=8).collect()
    }
    for vid in list(vecs)[:50]:
        v = vecs[vid]
        want = [
            int(((books[j] - v[j * sub : (j + 1) * sub]) ** 2)
                .sum(axis=1).argmin())
            for j in range(m)
        ]
        assert codes[vid] == want, vid


def test_rung_sig_arrow_kernel_matches_jvm_fold(spark):
    """The r10 Arrow sig/norm kernel (rung_sig_norm_arrow) must be
    BIT-identical to the JVM definition of record: per-plane
    ``_cos_sig_prefix`` left-fold signs and ``sqrt(norm2(v))`` —
    the contract that keeps the strict DuckDB oracle green after the
    fold moved into NumPy."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
        norm2,
    )
    from energy_consumption_forecasting_spark.queries.dedup import (
        _cos_sig_prefix,
        attach_rung_sig,
    )

    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(500, 64))
    # plant sign-boundary stress: a few vectors scaled to tiny norms
    vecs[:25] *= 1e-12
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select("vec_id", as_double("embedding").alias("v"))

    got = {
        r["vec_id"]: (r["sig"], r["nrm"])
        for r in attach_rung_sig(base).collect()
    }
    nbits = len(next(iter(got.values()))[0])

    jvm = {
        r["vec_id"]: (r["sig"], r["nrm"])
        for r in base.select(
            "vec_id",
            _cos_sig_prefix(F.col("v"), F.lit(nbits)).alias("sig"),
            F.sqrt(norm2(F.col("v"))).alias("nrm"),
        ).collect()
    }
    assert set(got) == set(jvm)
    for vid in got:
        assert got[vid][0] == jvm[vid][0], f"sig mismatch vec {vid}"
        # bit-exact doubles: compare raw repr, not approx
        assert math.isclose(got[vid][1], jvm[vid][1], rel_tol=0.0, abs_tol=0.0) or (
            got[vid][1] == jvm[vid][1]
        ), f"nrm mismatch vec {vid}: {got[vid][1]!r} vs {jvm[vid][1]!r}"


def test_bucket_pair_scores_match_join_distinct_reference(spark):
    """The r10 bucket-local pair kernel must emit EXACTLY the pairs of
    the join→distinct reference shape — same (a, b) set, each pair
    once, bit-identical cosines — including across a capped mega
    bucket (the smask/first-collision subtlety: a pair whose earlier-
    band collision was broken by the cap must still be emitted from
    its first CO-SURVIVING band)."""
    import numpy as np
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.functions.vectors import (
        as_double,
        bucket_pair_scores_arrow,
        cosine_prenormed,
        norm2,
    )
    from energy_consumption_forecasting_spark.queries.dedup import (
        COS_BANDS,
        _cos_band_rows,
        attach_rung_sig,
    )

    rng = np.random.RandomState(5)
    # a planted identical cluster (cap stress) + noise
    one = rng.normal(size=64)
    vecs = [one + rng.normal(scale=1e-4, size=64) for _ in range(1200)] + [
        rng.normal(size=64) for _ in range(800)
    ]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    e = attach_rung_sig(
        df.select("vec_id", as_double("embedding").alias("v"))
    )
    bands = _cos_band_rows(e).join(
        F.broadcast(e.select("vec_id", "v", "nrm")), "vec_id"
    )
    staged = bands.repartition(8, "band", "bucket").sortWithinPartitions(
        "band", "bucket", "vec_id"
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in bucket_pair_scores_arrow(staged, COS_BANDS).collect()
    }

    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.vec_id") < F.col("bb.vec_id")),
        )
        .select(
            F.col("ba.vec_id").alias("vec_a"),
            F.col("bb.vec_id").alias("vec_b"),
            F.col("ba.v").alias("va"),
            F.col("bb.v").alias("vb"),
            F.col("ba.nrm").alias("na"),
            F.col("bb.nrm").alias("nb"),
        )
        .distinct()
    )
    want = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in cand.select(
            "vec_a",
            "vec_b",
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        ).collect()
    }
    assert set(got) == set(want), (
        f"pair set mismatch: {len(got)} vs {len(want)}; "
        f"missing={list(set(want)-set(got))[:5]} "
        f"extra={list(set(got)-set(want))[:5]}"
    )
    for k, v in want.items():
        assert got[k] == v, f"cos mismatch {k}: {got[k]!r} vs {v!r}"
