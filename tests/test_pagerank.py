"""PageRank operator: the exact tier is bit-identical across join strategies."""

from __future__ import annotations


def test_power_iterate_shuffled_hash_tier_matches_broadcast(spark):
    """The three loop tiers — one numpy task (single-task), broadcast
    rank side over the dst-partitioned edges, shuffled-hash build over
    the src-partitioned edges — must give bit-identical int64 ranks,
    for global and personalized PageRank.  Each tier's graph comes from
    prepare_rank_graph under a broadcast budget pinned just inside or
    just outside its rule, so the rule's boundaries are pinned too.
    Inputs: a symmetrized graph with uneven degrees (the contract), and
    a DAG, whose source-only and sink-only nodes drop out of the Spark
    tiers' rank table round by round — the single-task tier must keep
    the same node set."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.pagerank import (
        BROADCAST,
        SHUFFLED_HASH,
        SINGLE_TASK,
        pagerank_exact,
        prepare_rank_graph,
    )

    def hop(ids, k):
        return ids.select(
            F.col("id").alias("src"), ((F.col("id") + k) % 500).alias("dst")
        )

    ring = spark.range(0, 500)
    sym = hop(ring, 7).union(hop(ring.filter(F.col("id") % 3 == 0), 13))
    sym = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    dag = hop(spark.range(0, 100), 1).union(hop(spark.range(0, 99), 2))
    dag = dag.union(hop(spark.range(0, 98), 3))

    def seed_pred(v):
        return v % 50 == 0

    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)

    def run(edges, budget, tier):
        spark.conf.set(conf, str(budget))
        try:
            g = prepare_rank_graph(edges)
        finally:
            spark.conf.set(conf, old)
        assert g.tier == tier
        n_seeds = g.deg.filter(seed_pred(F.col("v"))).count()
        try:
            return [
                {
                    r.v: r.rank_scaled
                    for r in pagerank_exact(
                        g, pred, n_seeds if pred else 0
                    ).collect()
                }
                for pred in (None, seed_pred)
            ]
        finally:
            g.unpersist()

    # the DAG's live set shrinks from the source end: nodes t..100
    # after round t, so 91 ranks after 10 rounds
    for edges, n, n_edges, n_ranked in (
        (sym, 500, 1334, 500),
        (dag, 100, 297, 91),
    ):
        assert n * 48 + 1 <= n_edges * 24
        want = run(edges, n_edges * 24, BROADCAST)
        assert run(edges, n_edges * 24 + 1, SINGLE_TASK) == want
        assert run(edges, n * 48, SHUFFLED_HASH) == want
        assert len(want[0]) == len(want[1]) == n_ranked
        assert len(set(want[0].values())) > 1
        assert sum(1 for r in want[1].values() if r > 0) > 1
