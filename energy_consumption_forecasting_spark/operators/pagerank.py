"""PageRank over plain DataFrames — iterative graph analytics.

Together with connected components (queries/components.py) this covers
the two standard iterative-graph shapes: label fixpoints and weighted
power iteration.  No GraphFrames dependency.

Ranks are exact scaled int64s (``pagerank_exact``, global or
personalized), so any aggregation order — Spark partial aggregation,
numpy, DuckDB single-threaded — yields identical integers and the
cross-engine oracle can hash-compare values.  The recurrence's
constants (``ITERS``, ``SCALE``, ``DAMP_NUM``/``DAMP_DEN``) live here,
and the DuckDB oracles in queries/components.py read the same ones.

``prepare_rank_graph`` builds the static half once (degree table,
counts, the deg-folded edge table ``we``) and picks one of three tiers
from those counts and ``spark.sql.autoBroadcastJoinThreshold``:

* ``single_task`` — ``we`` fits the budget (24 bytes per edge): all
  rounds run inside ONE ``mapInPandas`` task in int64 numpy over the
  coalesced edge table.  The result is a lazy frame: building it runs
  no job, executing it is one job.
* ``broadcast`` — the rank table fits the budget (48 bytes per node):
  per round, broadcast(ranks) ⋈ we → groupBy(dst).sum, with ``we``
  persisted hash-partitioned on ``dst`` so a round has no exchange.
* ``shuffled_hash`` — everything else: ``we`` is persisted on ``src``
  and the rank side joins by shuffled hash against it, so only the
  aggregation shuffles.

The two Spark tiers run under ``aqe_disabled`` with a graph-sized loop
width; ``localCheckpoint`` truncates the rank lineage every
``_CKPT_EVERY`` rounds and once at the end.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import aqe_disabled, loop_shuffle_width
from . import single_task

# Lineage-truncation cadence for the fixed-iteration loops: one eager
# localCheckpoint per _CKPT_EVERY rounds.  Rank lineage is linear (one
# self-reference per round), so short lazy chains are safe; a barrier
# per round was measured as pure scheduling floor at gate SF.
_CKPT_EVERY = 5

# The exact recurrence: ITERS rounds over ranks scaled by SCALE, damping
# DAMP_NUM/DAMP_DEN = 0.85.  Overflow headroom: inflow <= SCALE, so
# DAMP_NUM * inflow <= 1.7e16 << 2^63.
ITERS = 10
SCALE = 10**15
DAMP_NUM = 17
DAMP_DEN = 20

# Edge rows per task of the loop's shuffles (session.loop_shuffle_width).
_ROWS_PER_TASK = 100_000

SINGLE_TASK = "single_task"
BROADCAST = "broadcast"
SHUFFLED_HASH = "shuffled_hash"


@dataclass
class PreparedRankGraph:
    """The static half of a power-iteration run, built once and shared.

    ``we`` is the deg-folded edge table, persisted hash-partitioned on
    the iteration's aggregation key; ``deg`` the persisted (v, deg)
    node table the setup derived it from; ``tier`` the loop shape
    (SINGLE_TASK, BROADCAST or SHUFFLED_HASH — module docstring).  The
    whole graph family (global + personalized PageRank over the same
    edge set) iterates this identical structure, so callers cache one
    PreparedRankGraph per (session, edge source) and pass it in — the
    per-query cost is then just the iteration."""

    we: DataFrame
    deg: DataFrame
    n: int
    n_edges: int
    tier: str

    def unpersist(self) -> None:
        self.we.unpersist()
        self.deg.unpersist()


def prepare_rank_graph(edges: DataFrame) -> PreparedRankGraph:
    """One pass of setup for the exact PageRank tiers: degree table,
    node/edge counts, the tier, and the deg-folded edge table persisted
    on the loop's aggregation key (``dst``, or ``src`` on the
    shuffled-hash tier — the join then reuses the layout and only the
    agg shuffles).

    The tier sizes the counts for ``single_task.fits`` (the session's
    broadcast budget): 24 bytes per edge for the single-task tier, 48
    per node for the broadcast tier.

    PRECONDITION: symmetric-style graph — every node has out- and
    in-degree >= 1 (true for any symmetrized edge set, which is what
    every caller builds).  It is not checked: off the contract, rank
    mass leaks through source-only and sink-only nodes."""
    spark = edges.sparkSession
    e = edges.persist()
    try:
        deg = (
            e.groupBy(F.col("src").alias("v"))
            .agg(F.count("*").alias("deg"))
            .persist()
        )
        stats = deg.agg(
            F.count("*").alias("n"), F.sum("deg").alias("n_edges")
        ).collect()[0]
        n = stats["n"]
        if n == 0:
            raise ValueError("prepare_rank_graph: empty graph")
        n_edges = int(stats["n_edges"] or 0)
        if single_task.fits(spark, n_edges * 24):
            tier = SINGLE_TASK
        elif single_task.fits(spark, n * 48):
            tier = BROADCAST
        else:
            tier = SHUFFLED_HASH
        with loop_shuffle_width(spark, n_edges, _ROWS_PER_TASK) as iter_n:
            part_key = "src" if tier == SHUFFLED_HASH else "dst"
            we = (
                e.join(deg.withColumnRenamed("v", "src"), "src")
                .select("src", "dst", "deg")
                .repartition(iter_n, part_key)
                .persist()
            )
            # materialize NOW, while e's blocks are still cached (the
            # stats job filled them) — a lazy we would recompute from
            # the raw source after the unpersist below
            we.count()
        return PreparedRankGraph(we, deg, n, n_edges, tier)
    finally:
        # deg/we are materialized self-contained block sets; the edge
        # persist was only setup-local
        e.unpersist()


def pagerank_exact(
    graph: PreparedRankGraph, seed_pred=None, n_seeds: int = 0
) -> DataFrame:
    """Fixed-point PageRank in EXACT scaled-integer arithmetic over a
    prepared graph, global (``seed_pred is None``: uniform init and
    teleport) or personalized (init and teleport mass on the seed set
    only).

    Double power iteration is aggregation-order-dependent in the last
    bits, so a float PageRank could only be rows-verified
    cross-engine.  This keeps every rank as an int64 scaled by
    ``SCALE`` and replaces each float op with integer ops that are
    associative and order-independent:

    * contribution  ``r_u div deg_u``          (int64 floor division)
    * inflow        ``SUM(..)``                (exact int64 sum)
    * update        ``base + (17*inflow) div 20`` with
      ``base = (3*SCALE) div (20*n)``          (damping 0.85 = 17/20)

    Personalized, the teleport mass lands ONLY on the seed set S:

      r0_v    = (SCALE div |S|)·[v ∈ S]
      r_{t+1} = [v ∈ S]·(3·SCALE) div (20·|S|) + (17·inflow) div 20

    so ranks measure proximity to the seeds (the 'recommendation from
    these nodes' form of PageRank).  ``seed_pred`` is a Column
    predicate over a node id column; ``n_seeds`` must be |S ∩ nodes|
    (the caller counts it — it is also the oracle's ns).

    Any engine computing this recurrence — Spark partial aggregation in
    any order, numpy, DuckDB single-threaded — produces IDENTICAL
    integers, which is what makes a cross-engine value-hash oracle
    possible (see queries/components.py::graph_pagerank's unrolled-CTE
    oracle).  The truncation error vs real PageRank is < n·ITERS ulps
    of 1/SCALE — invisible at SCALE=1e15.  The graph must keep
    :func:`prepare_rank_graph`'s symmetric-style precondition; the
    caller owns its persisted frames and their lifetime.

    Single-task tier: :func:`_single_task_iterate`, lazy.  Spark tiers,
    per round: broadcast(ranks) ⋈ we → groupBy(dst).sum — with ``we``
    persisted partitioned on ``dst`` the whole round is exchange-free;
    on the shuffled-hash tier the join reuses the src layout and only
    the agg shuffles.  Runs under ``aqe_disabled`` + the graph-sized
    loop width (the round plans are pinned; AQE re-planning per round
    was measured as ~2x the loop at gate SF) and ends with an EAGER
    checkpoint so every round executes inside those confs — without it
    the tail of the lazy chain would run under the session's AQE at
    the caller's action time.  Checkpoint cadence _CKPT_EVERY: rank
    lineage is linear, short lazy chains are safe, 10 chained barriers
    were pure scheduling overhead."""
    if seed_pred is not None and n_seeds <= 0:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    if graph.tier == SINGLE_TASK:
        return _single_task_iterate(graph, seed_pred, n_seeds)
    spark = graph.we.sparkSession
    n = graph.n
    if seed_pred is None:
        base_expr = F.lit((DAMP_DEN - DAMP_NUM) * SCALE // (DAMP_DEN * n))
        init = F.lit(SCALE // n)
    else:
        base_seed = (DAMP_DEN - DAMP_NUM) * SCALE // (DAMP_DEN * n_seeds)
        base_expr = F.when(
            seed_pred(F.col("dst")), F.lit(base_seed)
        ).otherwise(F.lit(0))
        init = F.when(seed_pred(F.col("v")), F.lit(SCALE // n_seeds)).otherwise(
            F.lit(0)
        )
    with (
        loop_shuffle_width(spark, graph.n_edges, _ROWS_PER_TASK),
        aqe_disabled(spark),
    ):
        ranks = graph.deg.select("v", init.cast("long").alias("r"))
        for it in range(ITERS):
            rank_side = ranks.withColumnRenamed("v", "src")
            if graph.tier == BROADCAST:
                rank_side = F.broadcast(rank_side)
            else:
                # Past the broadcast budget the planner defaults to a
                # sort-merge join that RE-SORTS the persisted edge table
                # every round — the dominant super-linear term of the
                # sf10 decade probe (guide §3.1: pick the strategy
                # deliberately).  A shuffled-hash join with the rank
                # side as build keeps the src-partitioned edge layout
                # streaming (no exchange, no sort — ``we`` is persisted
                # hash(src, iter_n) and the loop width pins the shuffle
                # partitions to iter_n) and builds only the node-sized
                # rank table per partition.
                rank_side = rank_side.hint("shuffle_hash")
            ranks = (
                graph.we.join(rank_side, "src")
                .groupBy("dst")
                .agg(F.sum(F.expr("r div deg")).alias("inflow"))
                .select(
                    F.col("dst").alias("v"),
                    (
                        base_expr
                        + F.expr(f"({DAMP_NUM} * inflow) div {DAMP_DEN}")
                    ).cast("long").alias("r"),
                )
            )
            if (it + 1) % _CKPT_EVERY == 0 or it + 1 == ITERS:
                ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("v", F.col("r").alias("rank_scaled"))


def _single_task_iterate(
    graph: PreparedRankGraph, seed_pred, n_seeds: int
) -> DataFrame:
    """All ``ITERS`` rounds of the Spark tiers' recurrence in ONE
    mapInPandas task over the coalesced edge table, in int64 numpy.

    Every operand is a non-negative int64, so numpy's ``//`` equals
    Spark's ``div`` and the sums are exact: the ranks are bit-identical
    to the Spark tiers'.  The inflow is a segmented ``np.add.reduceat``
    over the dst-sorted edges.  ``live`` replays the Spark tiers' node
    set — the src nodes before round 1, after it the dst of edges
    whose src was live — which only matters off the symmetric
    contract.  Seed flags come from ``seed_pred`` over both endpoint
    columns, since an id may appear on one side only."""
    n_s = graph.n if seed_pred is None else n_seeds
    base_seed = (DAMP_DEN - DAMP_NUM) * SCALE // (DAMP_DEN * n_s)
    init_seed = SCALE // n_s
    cols = [F.col("src"), F.col("dst"), F.col("deg")]
    if seed_pred is not None:
        cols += [
            F.coalesce(seed_pred(F.col(c)), F.lit(False)).alias(f"seed_{c}")
            for c in ("src", "dst")
        ]

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        ids, idx = np.unique(
            np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
            return_inverse=True,
        )
        order = np.argsort(idx[m:], kind="stable")
        src, dst = idx[:m][order], idx[m:][order]
        deg = pdf["deg"].to_numpy(np.int64)[order]
        starts = np.flatnonzero(np.diff(dst, prepend=-1))
        tgt = dst[starts]
        seed = np.ones(len(ids), dtype=bool)
        if seed_pred is not None:
            seed[src] = pdf["seed_src"].to_numpy(bool)[order]
            seed[dst] = pdf["seed_dst"].to_numpy(bool)[order]
        base = np.where(seed, base_seed, 0).astype(np.int64)
        live = np.zeros(len(ids), dtype=bool)
        live[src] = True
        r = np.where(live & seed, init_seed, 0).astype(np.int64)
        for _ in range(ITERS):
            inflow = np.add.reduceat(r[src] // deg, starts)
            nxt = np.zeros(len(ids), dtype=bool)
            nxt[dst[live[src]]] = True
            live = nxt
            r = np.zeros(len(ids), dtype=np.int64)
            r[tgt] = base[tgt] + (DAMP_NUM * inflow) // DAMP_DEN
            r[~live] = 0
        keep = np.flatnonzero(live)
        return pd.DataFrame({"v": ids[keep], "rank_scaled": r[keep]})

    schema = T.StructType(
        [
            T.StructField("v", graph.we.schema["dst"].dataType),
            T.StructField("rank_scaled", T.LongType()),
        ]
    )
    return single_task.run(graph.we.select(*cols), kernel, schema)

