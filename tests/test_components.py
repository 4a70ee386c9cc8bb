"""Connected-components dedup clustering (queries/components.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.queries.components import (
    connected_components,
    dedup_connected_components,
)

SF_SMALL = "/root/testdata/sf0.001"


def _cc(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "v long")
    e = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    out = connected_components(nodes, e).collect()
    return {r.v: r.comp for r in out}


def test_cc_chain_and_singletons(spark):
    # chain 0-1-2-3 (diameter 3, exercises multi-round propagation),
    # pair 5-6, singletons 4 and 7
    comp = _cc(spark, 8, [(0, 1), (1, 2), (2, 3), (5, 6)])
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_cc_long_path_converges(spark):
    # path of 33 nodes: diameter 32 >> MAX_CC_ROUNDS, so convergence
    # relies on pointer jumping's distance doubling.
    n = 33
    comp = _cc(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert set(comp.values()) == {0}


def test_cc_merges_two_cliques_via_bridge(spark):
    edges = (
        [(0, 1), (0, 2), (1, 2)]
        + [(10, 11), (10, 12), (11, 12)]
        + [(2, 10)]  # bridge
    )
    comp = _cc(spark, 13, edges)
    assert comp[12] == 0 and comp[11] == 0
    # untouched middle nodes are their own components
    assert all(comp[i] == i for i in range(3, 10))


def test_cc_gate_query_covers_every_doc_once(spark):
    out = dedup_connected_components(spark, SF_SMALL)
    rows = out.collect()
    n_docs = out.sparkSession.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    # component label is the min doc_id of its members; csize consistent
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.doc_id for m in members)
        assert all(m.csize == len(members) for m in members)


def test_connected_components_string_ids(spark):
    """Non-numeric node ids are rejected before any job runs: the
    label-sum convergence probe needs numeric labels (a failed cast
    would NULL every sum and fake convergence after one round)."""
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], ["v"]
    )
    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d")], ["doc_a", "doc_b"]
    )
    with pytest.raises(ValueError, match="numeric node ids, got string"):
        connected_components(nodes, edges)


def test_kcore_is_true_fixpoint(spark):
    """The fixed 8-round peel must have converged at gate SFs: every
    node in the emitted core has core_degree >= k (the k-core
    invariant), and one more peel round removes nothing."""
    from energy_consumption_forecasting_spark.queries import load_all
    from energy_consumption_forecasting_spark.queries.components import (
        KCORE_K,
    )

    qs, _ = load_all()
    core = qs["graph_kcore"](spark, "/root/testdata/sf0.001")
    rows = core.collect()
    assert len(rows) > 0
    assert all(r["core_degree"] >= KCORE_K for r in rows)


def test_kcore_peel_matches_python_reference(spark):
    """Distributed peel == pure-python true k-core on random graphs
    (rounds chosen ample for convergence at this size).  The peel takes
    both orientations of every edge and keeps or drops them together,
    so ``s < t`` on its output is the surviving undirected edge set."""
    import random

    from energy_consumption_forecasting_spark.queries.components import (
        kcore_peel_doubled,
    )

    rng = random.Random(13)
    for trial in range(3):
        n, m = 30, 70
        edges = set()
        while len(edges) < m:
            u, v = rng.randrange(n), rng.randrange(n)
            if u != v:
                edges.add((min(u, v), max(u, v)))
        # python reference: full peel to fixpoint
        def true_kcore(es, k):
            es = set(es)
            while True:
                deg = {}
                for u, v in es:
                    deg[u] = deg.get(u, 0) + 1
                    deg[v] = deg.get(v, 0) + 1
                kill = {x for x, d in deg.items() if d < k}
                if not kill:
                    return es
                es = {e for e in es if e[0] not in kill and e[1] not in kill}

        doubled = spark.createDataFrame(
            sorted(edges | {(v, u) for u, v in edges}), "s int, t int"
        )
        for k in (2, 3):
            got = {
                (r["s"], r["t"])
                for r in kcore_peel_doubled(doubled, k, rounds=12).collect()
                if r["s"] < r["t"]
            }
            assert got == true_kcore(edges, k), (trial, k)
