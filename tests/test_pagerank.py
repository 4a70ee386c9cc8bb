"""PageRank operator: the exact tier is bit-identical across join strategies."""

from __future__ import annotations


def test_power_iterate_shuffled_hash_tier_matches_broadcast(spark):
    """r11: past the broadcast budget the per-round join switches to a
    shuffled-hash build of the rank side (the SMJ fallback re-sorted
    the whole edge table every round — the sf10 decade's super-linear
    term).  Exact int64 pagerank must be bit-identical across the two
    strategies and layouts."""
    import copy

    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.pagerank import (
        PreparedRankGraph,
        _power_iterate,
        prepare_rank_graph,
    )
    from energy_consumption_forecasting_spark.session import (
        loop_shuffle_width,
    )

    edges = spark.range(0, 500).select(
        F.col("id").alias("src"), ((F.col("id") + 7) % 500).alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # reference: the broadcast tier over the dst-partitioned layout
    g_b = prepare_rank_graph(edges)
    assert g_b.broadcastable
    want = {
        r.v: r.rank_scaled
        for r in _power_iterate(g_b, 10, 10**15, 17, 20, None, 0).collect()
    }

    # the past-budget layout: we persisted hash(src), broadcastable off
    e = edges.persist()
    deg = (
        e.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    stats = deg.agg(
        F.count("*").alias("n"), F.sum("deg").alias("ne")
    ).collect()[0]
    with loop_shuffle_width(spark, int(stats["ne"]), 100_000) as iter_n:
        we = (
            e.join(deg.withColumnRenamed("v", "src"), "src")
            .select("src", "dst", "deg")
            .repartition(iter_n, "src")
            .persist()
        )
        we.count()
    g_s = PreparedRankGraph(we, deg, stats["n"], int(stats["ne"]), False)
    got = {
        r.v: r.rank_scaled
        for r in _power_iterate(g_s, 10, 10**15, 17, 20, None, 0).collect()
    }
    g_b.unpersist()
    g_s.unpersist()
    e.unpersist()
    assert got == want
