"""Transitive dedup clustering: connected components over near-dup pairs.

Pairwise near-dup detection (``dedup_minhash_lsh``, ``dedup_exact``) is
only half of a dedup pipeline: if A~B and B~C, all three must land in
ONE cluster even when the (A, C) pair was never emitted.  That is a
connected-components problem on the candidate-pair graph.

Spark-first design (no GraphFrames dependency): iterative **min-label
propagation with pointer jumping** over plain DataFrames —

* ``labels(v) ← min(labels(v), min over neighbors labels(u))`` each
  round (one shuffle join + one groupBy-min), then
* pointer jumping ``labels(v) ← labels(labels(v))`` (one more equi-join),
  which doubles the propagation distance per round, so convergence is
  O(log diameter) rounds, not O(diameter) — the same round-shrinking
  idea as the large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14).
* ``localCheckpoint`` after every round truncates the lineage so the
  plan does not grow exponentially with iterations.

Every step is an equi-join / groupBy on bounded-width id columns — no
cartesian products, no driver-side adjacency structures; at 100 TB the
per-round cost is two shuffles of (id, id) pairs.  Near-dup components
are shallow (dup clusters are near-cliques), so rounds stay in single
digits.

The DuckDB oracle computes the same fixpoint declaratively with a
recursive CTE (full reachability → min reachable id per node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pagerank import DAMP_DEN, DAMP_NUM, ITERS, SCALE
from . import query
from ._util import shared_plan, tbl
from .dedup import (
    _MINHASH_SQL,
    _SHINGLES_SQL,
    _band_rows,
    _minhash_sigs,
    _pairs_from_members,
)

# Round cap = runaway backstop, NOT an expected budget: with one hop
# of min-propagation + one pointer jump per round, label reach grows
# ~2^r, so r rounds cover diameter ~2^r.  Real dup graphs (near-clique
# clusters) converge in single digits and the label-sum probe exits
# early; the cap only needs to exceed log2(max conceivable diameter).
# r10: raised 12 -> 30 after the 500k-doc decade probe hit a
# near-percolation-critical LSH graph (457k edges / 500k nodes) whose
# giant component's diameter exceeded 2^12 reach — a synthetic-corpus
# regime, but the cap was wrong to conflate "deep graph" with
# "runaway loop".  30 rounds reach ~10^9 diameter; extra rounds cost
# two (id, id) shuffles each and are only paid when the graph demands
# them.
MAX_CC_ROUNDS = 30


def _exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate edges (md5(text) groups), chunk-bounded — a
    planted k-identical-doc corpus is ONE hash group, so the expansion
    must never hold its k²/2 pairs in a single row; identical-text docs
    with < 3 tokens have no shingles, so LSH alone would miss them."""
    members = (
        tbl(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return _pairs_from_members(members)


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate edges — same banding as dedup_minhash_lsh."""
    members = (
        _band_rows(_minhash_sigs(spark, sf_dir))
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return _pairs_from_members(members).distinct()


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label connected components over (v) nodes and (doc_a, doc_b)
    edges; returns (v, comp) with comp = min node id in the component.

    Deterministic: the fixpoint is independent of iteration order.
    Node ids must be numeric: the convergence probe sums labels."""
    from pyspark.sql.types import NumericType

    from ..session import aqe_disabled, loop_shuffle_width

    id_type = nodes.schema["v"].dataType
    if not isinstance(id_type, NumericType):
        raise ValueError(
            "connected_components needs numeric node ids, got "
            + id_type.simpleString()
        )
    spark = nodes.sparkSession
    # Symmetrize by EXPLODE, not union (r10 — the _supply_edges lesson
    # applied here too): the union's two branches are separate subtrees,
    # so the whole upstream edge derivation (LSH band pairs + exact md5
    # pairs in dedup_connected_components) executed TWICE to build sym —
    # measured as the two biggest stages of the query at sf0.1 (~12s +
    # ~5s executor time, each writing the same 1.07 MB of pairs).  The
    # row-local explode doubles each pair in one pass over one subtree.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("s"), F.col("doc_b").alias("t")
                ),
                F.struct(
                    F.col("doc_b").alias("s"), F.col("doc_a").alias("t")
                ),
            )
        ).alias("e")
    ).select("e.s", "e.t").persist()
    labels = nodes.select(
        F.col("v"), F.col("v").alias("comp")
    ).localCheckpoint(eager=True)
    # Size the loop's shuffles to the graph, not the session default
    # (the shared pagerank/learn_bpe pattern — session.py).
    n_edges = sym.count()
    # Convergence probe via the LABEL-SUM invariant (r4): min-label
    # propagation and pointer jumping only ever DECREASE a node's
    # label, so Σcomp is strictly decreasing while anything changes and
    # a fixpoint is exactly Σcomp staying flat.  That turns the
    # per-round probe from a labels⋈labels join + count job into one
    # shuffle-free aggregation over the just-checkpointed blocks.
    # DECIMAL(38,0) so corpus-scale id sums can't wrap.  The invariant
    # needs NUMERIC labels (a failed cast would NULL every sum and
    # None == None would fake convergence after one round), hence the
    # id type check above.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    sym_j = None
    try:
        # every round executes INSIDE the context (eager checkpoint +
        # convergence probe per round), so AQE-off covers the whole
        # loop — per-round adaptive re-planning is pure driver latency
        # on these pinned plans (the pagerank measurement, session.py)
        with loop_shuffle_width(spark, n_edges, 50_000) as loop_n, aqe_disabled(
            spark
        ):
            # r11 (guide §2.4/§3.1, the pagerank sf10 lesson): the raw
            # sym persist has the SCAN/upstream layout, so every
            # round's join re-exchanged AND re-sorted the whole edge
            # table (sf10 docs decade 3.7x for 10x).  Exchange it once
            # onto the loop's join key and hint the node-sized label
            # side as a shuffled-hash build: per round the edges now
            # stream from cache with no exchange and no sort.
            sym_j = sym.repartition(loop_n, "s").persist()
            sym_j.count()  # materialize from sym's cached blocks
            sym.unpersist()  # only sym_j is read from here on
            for _ in range(MAX_CC_ROUNDS):
                msgs = sym_j.join(
                    labels.select(F.col("v").alias("s"), "comp").hint(
                        "shuffle_hash"
                    ),
                    "s",
                ).select(F.col("t").alias("v"), "comp")
                new = (
                    labels.union(msgs)
                    .groupBy("v")
                    .agg(F.min("comp").alias("comp"))
                )
                # Pointer jumping: follow one extra hop through the label
                # table itself — comp(v) ← comp(comp(v)).
                parent = new.select(
                    F.col("v").alias("pv"), F.col("comp").alias("pcomp")
                )
                new = (
                    new.join(parent, F.col("comp") == F.col("pv"), "left")
                    .select("v", F.coalesce("pcomp", "comp").alias("comp"))
                    .localCheckpoint(eager=True)
                )
                cur_sum = _label_sum(new)
                labels = new
                if cur_sum == prev_sum:
                    return labels
                prev_sum = cur_sum
            raise RuntimeError(
                f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
            )
    finally:
        sym.unpersist()
        if sym_j is not None:
            sym_j.unpersist()


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_MINHASH_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    exact_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a, doc_b FROM cand
      UNION
      SELECT doc_a, doc_b FROM exact_pairs
    ),
    sym AS (
      SELECT doc_a AS s, doc_b AS t FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(v, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT sym.t, reach.r FROM sym JOIN reach ON sym.s = reach.v
    ),
    comp AS (
      SELECT v AS doc_id, CAST(MIN(r) AS BIGINT) AS component
      FROM reach GROUP BY v
    )
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS csize
    FROM comp
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster id per document: transitive closure of the MinHash-LSH
    candidate pairs ∪ exact-hash duplicate pairs.  Every doc gets a
    component (singletons label themselves) plus the component size —
    the table a keep-one-per-cluster policy consumes."""
    nodes = tbl(spark, sf_dir, "documents").select(F.col("doc_id").alias("v"))
    # Session-shared persisted edge set (r10 second pass): the LSH
    # band-pair + exact-md5 derivation re-ran per ACTION (warm stage
    # profile: ~0.7 s of stage wall per rep in the two derivation
    # stages); one persisted copy serves every rep, the same device as
    # copurchase_edges / the ANN fit frames.
    from ._util import shared_frame, shared_persist

    edges = shared_frame(
        spark,
        sf_dir,
        "cc_dedup_edges",
        lambda: shared_persist(
            _lsh_candidate_pairs(spark, sf_dir).union(
                _exact_pairs(spark, sf_dir)
            )
        ),
        mtime_table="documents",
    )
    labels = connected_components(nodes, edges)
    w = Window.partitionBy("component")
    return labels.select(
        F.col("v").alias("doc_id"), F.col("comp").alias("component")
    ).withColumn("csize", F.count("*").over(w))


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank in exact scaled-int64 algebra —
    one CTE per power iteration (DuckDB recursive CTEs can't aggregate
    over the recursive term, and a fixed iteration count unrolls to a
    finite chain anyway).  Same recurrence as pagerank_exact:
    r0 = S div n;  r_{t+1} = (3S) div (20n) + (17*inflow) div 20 with
    inflow = SUM(r_t div deg) — every op integer, so both engines
    produce identical BIGINTs regardless of aggregation order."""
    s = f"CAST({SCALE} AS BIGINT)"
    parts = [
        f"""li AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem),
    sym AS (SELECT src, dst FROM li UNION ALL SELECT dst, src FROM li),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT v, deg, {s} // n AS r FROM deg CROSS JOIN nn)"""
    ]
    for t in range(1, ITERS + 1):
        parts.append(
            f"""r{t} AS (
      SELECT d.v, d.deg,
             CAST(({DAMP_DEN - DAMP_NUM} * {s}) // ({DAMP_DEN} * n)
                  + ({DAMP_NUM} * i.inflow) // {DAMP_DEN} AS BIGINT) AS r
      FROM deg d CROSS JOIN nn
      JOIN (SELECT e.dst AS v, SUM(p.r // p.deg) AS inflow
            FROM sym e JOIN r{t - 1} p ON p.v = e.src
            GROUP BY e.dst) i ON i.v = d.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT v, r AS rank_scaled FROM r{ITERS}
    ORDER BY rank_scaled DESC, v LIMIT 50"""
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part↔supplier supply graph derived
    from lineitem (edges both directions, so rank flows between the
    node classes).

    Hash-checked cross-engine since round 4: runs the EXACT scaled-
    integer recurrence (operators/pagerank.py::pagerank_exact — int64
    floor-division, order-independent), against a 10-iteration
    unrolled-CTE DuckDB oracle computing the same integers.  Below the
    broadcast budget the whole iteration is one numpy task, so once
    the shared graph is cached, construction runs no job.

    Static setup (integer node ids, symmetrized edges, deg-folded edge
    table — see _supply_edges) comes from the session-shared
    _supply_rank_graph cache: the personalized variant iterates the
    IDENTICAL structure, so the build pays once per (session, sf_dir).
    The oracle's string ids ('p1', 's7') are minted only on the final
    50 rows."""
    from ..operators.pagerank import pagerank_exact

    ranks = pagerank_exact(_supply_rank_graph(spark, sf_dir))
    v_str = F.when(
        F.col("v") % 2 == 0,
        F.concat(F.lit("p"), F.expr("CAST(v div 2 AS STRING)")),
    ).otherwise(
        F.concat(F.lit("s"), F.expr("CAST((v - 1) div 2 AS STRING)"))
    )
    return (
        ranks.select(v_str.alias("v"), "rank_scaled")
        .orderBy(F.desc("rank_scaled"), "v")
        .limit(50)
    )


# --- exact triangle counting on the co-supply graph ------------------------------
#
# Shared oracle fragment: the support>=2 co-purchase edge set + degrees
# (used verbatim by graph_triangle_count AND graph_assortativity so the
# two can never drift).
_COPURCHASE_SQL = """ps AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT LEAST(a.p, b.p) AS u, GREATEST(a.p, b.p) AS v
      FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      GROUP BY n
    )"""


# --- shared graph-family frame cache --------------------------------------------------
#
# Every graph-family query rebuilds the same static structure from
# lineitem — the symmetrized part↔supplier supply graph (pagerank +
# personalized) or the support>=2 co-purchase edge set (triangle,
# assortativity, k-core, LPA, link prediction, local clustering,
# degree histogram).  Rebuilding it per query dominated the family's
# wall-clock at gate SF (round-7 item 1), so ONE persisted copy per
# (session, sf_dir) is cached and shared; mtime of the lineitem
# parquet is in the key so a driver testdata regeneration invalidates.
# Entries are duck-typed on ``.unpersist()`` (DataFrame and
# PreparedRankGraph both carry it).  At 100 TB this is exactly the
# "build the edge list once, run many analytics" layout a production
# graph pipeline would persist to storage; the registry is bounded and
# evicts oldest-first.
def _supply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized bipartite part↔supplier edge set on INTEGER node
    ids (2k = part k, 2k+1 = supplier k: the loop shuffles 16-byte
    pairs and hashes longs; string ids are minted only on final rows).
    Symmetrize by EXPLODE, not union: a union's two branches are
    separate subtrees, so the scan + distinct would execute twice; the
    row-local explode doubles each pair in one pass."""
    pairs = (
        tbl(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("p"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("p").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("p").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _supply_rank_graph(spark: SparkSession, sf_dir: str):
    """Session-cached :class:`PreparedRankGraph` over the supply graph —
    built once, reused by graph_pagerank AND graph_personalized_pagerank
    (both iterate the identical deg-folded edge table)."""
    from ..operators.pagerank import prepare_rank_graph

    from ._util import shared_frame

    return shared_frame(
        spark,
        sf_dir,
        "supply_rank_graph",
        lambda: prepare_rank_graph(_supply_edges(spark, sf_dir)),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached, persisted co-purchase edge set — see
    :func:`_copurchase_edges_build`."""
    from ._util import shared_frame, shared_persist

    return shared_frame(
        spark,
        sf_dir,
        "copurchase_edges",
        lambda: shared_persist(_copurchase_edges_build(spark, sf_dir)),
    )


def _copurchase_doubled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached SYMMETRIZED (s, t) co-purchase frame — each
    undirected edge in both orientations, explode-doubled from the
    persisted :func:`_copurchase_edges` (one row-local pass, never a
    two-branch union).  Shared by graph_kcore and
    graph_label_propagation (r10 second pass): both previously rebuilt
    the doubled frame per ACTION — LPA through a unionAll whose lazy
    checkpoint re-materialized 64 near-empty tasks every rep (warm
    stage profile: 0.6 s of the 2.4 s wall), k-core through an inline
    explode.  One persisted copy serves every consumer and rep."""
    from ._util import shared_frame, shared_persist

    def build() -> DataFrame:
        edges = _copurchase_edges(spark, sf_dir)
        return shared_persist(
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
                        F.struct(F.col("v").alias("s"), F.col("u").alias("t")),
                    )
                ).alias("e")
            ).select("e.s", "e.t")
        )

    return shared_frame(spark, sf_dir, "copurchase_doubled", build)


def _copurchase_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached persisted degree table of the co-purchase graph —
    one groupBy over the shared doubled frame (deg(n) = rows with
    s = n, identical to the unionAll-of-endpoints count).  r10 second
    pass: triangle count, local clustering and assortativity each
    rebuilt the same deg via a 64-partition union + per-action lazy
    checkpoint (warm stage profile: the 64-task deg stage led every
    one of the three); one persisted copy serves all consumers and
    reps."""
    from ._util import shared_frame, shared_persist

    return shared_frame(
        spark,
        sf_dir,
        "copurchase_deg",
        lambda: shared_persist(
            _copurchase_doubled(spark, sf_dir)
            .groupBy(F.col("s").alias("n"))
            .agg(F.count("*").alias("d"))
        ),
    )


def _copurchase_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached persisted degree-ORIENTED edge frame
    (a, b, d_a, d_b): every co-purchase edge oriented from its lower-
    (degree, id) endpoint — the compact-forward layout both
    graph_triangle_count and graph_local_clustering wedge-join over.
    r10 second pass: each of the two queries re-ran the two degree
    tagging joins + orientation per ACTION; one persisted copy serves
    both queries' three wedge-join readers and every rep."""
    from ._util import shared_frame, shared_persist

    def build() -> DataFrame:
        edges = _copurchase_edges(spark, sf_dir)
        deg = _copurchase_deg(spark, sf_dir)
        du, dv = deg.alias("du"), deg.alias("dv")
        tagged = (
            edges.join(du, F.col("u") == F.col("du.n"))
            .join(dv, F.col("v") == F.col("dv.n"))
            .select(
                "u", "v", F.col("du.d").alias("d_u"), F.col("dv.d").alias("d_v")
            )
        )
        u_first = (F.col("d_u") < F.col("d_v")) | (
            (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
        )
        return shared_persist(
            tagged.select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
                F.when(u_first, F.col("d_u")).otherwise(F.col("d_v")).alias("d_a"),
                F.when(u_first, F.col("d_v")).otherwise(F.col("d_u")).alias("d_b"),
            )
        )

    return shared_frame(spark, sf_dir, "copurchase_oriented", build)


def _copurchase_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark half of ``_COPURCHASE_SQL`` — the support>=2 co-purchase
    (u, v) edge set, shared by triangle count / assortativity / k-core
    so the three cannot drift from each other or the oracle fragment."""
    ps = (
        tbl(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(
            F.least("a.p", "b.p").alias("u"), F.greatest("a.p", "b.p").alias("v")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
        .drop("support")
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    oriented AS (
      -- orient each edge from the lower-(degree, id) endpoint: every
      -- triangle is produced by exactly one (a,b,c) ordering
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
      FROM edges e
      JOIN deg du ON du.n = e.u
      JOIN deg dv ON dv.n = e.v
    ),
    od AS (
      SELECT o.a, o.b, da.d AS d_a, db.d AS d_b
      FROM oriented o JOIN deg da ON da.n = o.a JOIN deg db ON db.n = o.b
    ),
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM od e1
      JOIN od e2 ON e2.a = e1.a
                AND (e1.d_b, e1.b) < (e2.d_b, e2.b)
      JOIN od e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the part co-purchase graph (edge = two
    parts appear together in >= 2 orders — the market-basket graph
    with the classic support threshold; per-order fan-out is bounded
    by the ~4-line order size and the support cut drops the
    single-co-occurrence noise floor, so the graph stays sparse at
    every SF, unlike a co-supplier graph which densifies).

    Scale shape is the degree-ordered compact-forward algorithm
    (Latapy 2008; also MR "node-iterator++"): every edge is oriented
    from its lower-(degree, id) endpoint, and wedges are enumerated
    only from that endpoint, bounding the join fan-out by
    O(m^(3/2)) total wedges instead of sum(deg^2) — the difference
    between a skewed hub exploding the plan and a balanced one.  All
    steps are equi-joins/groupBys: edge derivation is a self-equi-join
    on partkey, degrees one groupBy, orientation two (node, degree)
    lookups, and the wedge-close step an equi-join on the (b, c) pair.
    No driver state; adjacency never materializes row-locally."""
    # the session-shared persisted frame covers edges' FIVE consumers
    # here (deg, tagging, n_edges, both sides of the wedge join via
    # od): the support-pruned pair expansion computes once per session.
    # Downstream joins that must broadcast carry explicit hints
    # (persist inflates size stats; ROUND_LOG #5).
    edges = _copurchase_edges(spark, sf_dir)
    # deg is node-cardinality — NOT broadcast (at 100 TB that table is
    # large); the equi-join shuffles on the node key, which AQE will
    # downgrade to a broadcast on its own when the graph is small.
    # Session-shared persisted deg (r10 second pass — _copurchase_deg).
    deg = _copurchase_deg(spark, sf_dir)
    # Session-shared persisted oriented frame (r10 second pass —
    # _copurchase_oriented): the tagging joins + orientation run once
    # per session, shared with graph_local_clustering.
    od = _copurchase_oriented(spark, sf_dir)
    e1, e2, e3 = od.alias("e1"), od.alias("e2"), od.alias("e3")
    lt = (F.col("e1.d_b") < F.col("e2.d_b")) | (
        (F.col("e1.d_b") == F.col("e2.d_b")) & (F.col("e1.b") < F.col("e2.b"))
    )
    tri = (
        e1.join(e2, (F.col("e2.a") == F.col("e1.a")) & lt)
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_tri"))
    )
    counts = edges.agg(
        F.count("*").alias("n_edges"),
    )
    nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        nodes.crossJoin(counts)
        .crossJoin(tri)
        .select(
            "n_nodes", "n_edges", F.col("n_tri").cast("long").alias("n_triangles")
        )
    )


# --- recursive-CTE reachability (Spark 4 WITH RECURSIVE surface) --------------------
_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT CONCAT('p', CAST(l_partkey AS STRING)) AS src,
                  CONCAT('s', CAST(l_suppkey AS STRING)) AS dst
  FROM lineitem
  UNION ALL
  SELECT DISTINCT CONCAT('s', CAST(l_suppkey AS STRING)) AS src,
                  CONCAT('p', CAST(l_partkey AS STRING)) AS dst
  FROM lineitem
),
reach(v, d) AS (
  SELECT 'p1', 0
  UNION ALL
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.d < 2
)
SELECT v, CAST(MIN(d) AS INT) AS depth FROM reach GROUP BY v
"""


@query("graph_reachability_cte", oracle=_REACH_SQL)
def graph_reachability_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded BFS written as a recursive CTE — the Spark-4
    ``WITH RECURSIVE`` surface (UnionLoopExec), run as the IDENTICAL
    SQL text on both engines: 2 hops out from part p1 over the
    part↔supplier supply graph, shortest depth per reached node via
    the closing MIN(d).

    Spark's recursive CTEs support UNION ALL only, so the recursion
    enumerates bounded-depth PATHS and the final aggregate dedupes —
    correct for small fixed depths (frontier ≤ deg² here), and the
    right tool for SQL-interop reachability questions.  Unbounded
    traversals (components, PageRank) use the iterative DataFrame
    operators instead (label propagation / pointer jumping in this
    module): per-round dedup keeps THEIR frontier node-sized, which
    path-enumeration cannot express without recursive UNION
    DISTINCT."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REACH_SQL)


# --- personalized PageRank (seed-teleport proximity) ---------------------------------
_PPR_SEED_MAX = 10  # seed set: supplier nodes with suppkey < 10


def _ppr_oracle() -> str:
    """Unrolled personalized-PageRank oracle: same exact scaled-int64
    recurrence as _pagerank_oracle but teleport mass restricted to the
    seed suppliers — r0 = (S div ns)·[seed], base = (3S) div (20·ns)
    on seeds, 0 elsewhere."""
    s = f"CAST({SCALE} AS BIGINT)"
    def seed(col: str) -> str:
        return (
            f"({col} LIKE 's%' AND CAST(substr({col}, 2) AS INT)"
            f" < {_PPR_SEED_MAX})"
        )
    parts = [
        f"""li AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem),
    sym AS (SELECT src, dst FROM li UNION ALL SELECT dst, src FROM li),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM deg WHERE {seed('v')}),
    r0 AS (SELECT v, deg,
                  CASE WHEN {seed('v')} THEN {s} // ns ELSE 0 END AS r
           FROM deg CROSS JOIN nn)"""
    ]
    for t in range(1, ITERS + 1):
        parts.append(
            f"""r{t} AS (
      SELECT d.v, d.deg,
             CAST(CASE WHEN {seed('d.v')}
                       THEN ({DAMP_DEN - DAMP_NUM} * {s}) // ({DAMP_DEN} * ns) ELSE 0 END
                  + ({DAMP_NUM} * i.inflow) // {DAMP_DEN} AS BIGINT) AS r
      FROM deg d CROSS JOIN nn
      JOIN (SELECT e.dst AS v, SUM(p.r // p.deg) AS inflow
            FROM sym e JOIN r{t - 1} p ON p.v = e.src
            GROUP BY e.dst) i ON i.v = d.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT v, r AS rank_scaled FROM r{ITERS}
    ORDER BY rank_scaled DESC, v LIMIT 50"""
    )


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (suppliers 0-9): ranks
    measure PROXIMITY to the seeds, the 'related to these' primitive
    behind graph recommendations — same exact scaled-int64 recurrence
    and loop shape as graph_pagerank, teleport mass restricted to the
    seeds (operators/pagerank.py::pagerank_exact with a seed predicate).
    Integer node ids in the loop (2k parts / 2k+1 suppliers: seeds are
    odd ids < 20), string ids minted on the final 50 rows.  The static
    half (deg-folded edge table + node stats) comes from the
    session-shared _supply_rank_graph cache it shares with
    graph_pagerank; the seed count is a fast filter over the cached
    (node-sized) degree table, one job with AQE off (AQE submits the
    count's shuffle stage as a job of its own)."""
    from ..operators.pagerank import pagerank_exact
    from ..session import aqe_disabled

    g = _supply_rank_graph(spark, sf_dir)

    def seed_pred(v):
        return (v % 2 == 1) & (v < 2 * _PPR_SEED_MAX)

    with aqe_disabled(spark):
        n_seeds = g.deg.filter(seed_pred(F.col("v"))).count()
    ranks = pagerank_exact(g, seed_pred, n_seeds)
    return (
        ranks.select(
            F.concat(
                F.when(F.col("v") % 2 == 0, F.lit("p")).otherwise(F.lit("s")),
                (F.col("v") / 2).cast("long").cast("string"),
            ).alias("v"),
            "rank_scaled",
        )
        .orderBy(F.desc("rank_scaled"), F.asc("v"))
        .limit(50)
    )


# --- modularity of the near-dup community partition ----------------------------------
@query(
    "graph_modularity",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_MINHASH_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    exact_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a, doc_b FROM cand
      UNION
      SELECT doc_a, doc_b FROM exact_pairs
    ),
    sym AS (
      SELECT doc_a AS s, doc_b AS t FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(v, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT sym.t, reach.r FROM sym JOIN reach ON sym.s = reach.v
    ),
    comp AS (
      SELECT v AS doc_id, CAST(MIN(r) AS BIGINT) AS component
      FROM reach GROUP BY v
    ),
    mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM edges),
    degs AS (SELECT s AS v, CAST(COUNT(*) AS HUGEINT) AS k FROM sym GROUP BY 1),
    dc AS (
      SELECT component AS c, CAST(SUM(k) AS HUGEINT) AS dsum
      FROM degs JOIN comp ON comp.doc_id = degs.v GROUP BY 1
    ),
    lc AS (
      SELECT component AS c, CAST(COUNT(*) AS HUGEINT) AS l
      FROM edges JOIN comp ON comp.doc_id = edges.doc_a GROUP BY 1
    ),
    nc AS (SELECT CAST(COUNT(DISTINCT component) AS BIGINT) AS n_comm
           FROM comp),
    num AS (
      SELECT CAST(SUM(4 * mm.m * COALESCE(lc.l, 0) - dc.dsum * dc.dsum)
                  AS HUGEINT) AS q_num
      FROM dc LEFT JOIN lc USING (c) CROSS JOIN mm
    )
    SELECT CAST(mm.m AS BIGINT) AS n_edges,
           nc.n_comm AS n_communities,
           CAST((1000000 * num.q_num)
                // NULLIF(4 * mm.m * mm.m, 0) AS BIGINT)
             AS modularity_ppm
    FROM mm CROSS JOIN nc CROSS JOIN num
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup COMMUNITY partition (the
    connected components of the LSH∪exact dup graph) — the quality
    score clustering pipelines report, in EXACT integer ppm:
    Q·4m² = Σ_c (4·m·L_c − D_c²) with L_c intra-edges and D_c the
    community degree sum, all HUGEINT/DECIMAL(38) — no float forms,
    per the 2^53 rule.  Every edge is intra by construction here
    (components!), so the same query on any OTHER partition column
    (e.g. source) measures how well that grouping explains the dup
    structure."""
    docs = tbl(spark, sf_dir, "documents").select(F.col("doc_id").alias("v"))
    edges = (
        _lsh_candidate_pairs(spark, sf_dir)
        .union(_exact_pairs(spark, sf_dir))
        .distinct()
    )
    labels = connected_components(docs, edges)
    d38 = "decimal(38,0)"
    sym = edges.select(
        F.col("doc_a").alias("v")
    ).unionAll(edges.select(F.col("doc_b").alias("v")))
    degs = sym.groupBy("v").agg(F.count("*").cast(d38).alias("k"))
    m = edges.count()
    dc = (
        degs.join(labels, "v")
        .groupBy("comp")
        .agg(F.sum("k").cast(d38).alias("dsum"))
    )
    lc = (
        edges.join(
            labels.withColumnRenamed("v", "doc_a"), "doc_a"
        )
        .groupBy("comp")
        .agg(F.count("*").cast(d38).alias("l"))
    )
    n_comm = labels.select("comp").distinct().count()
    q_num = (
        dc.join(lc, "comp", "left")
        .select(
            (
                F.lit(4 * m).cast(d38) * F.coalesce("l", F.lit(0).cast(d38))
                - F.col("dsum") * F.col("dsum")
            ).alias("t")
        )
        .agg(F.sum("t").cast(d38).alias("q_num"))
        .collect()[0]["q_num"]
    )
    # empty graph -> NULL modularity (matches the oracle's NULLIF)
    q_ppm = (
        int((1000000 * int(q_num)) // (4 * m * m)) if m else None
    )
    return spark.createDataFrame(
        [(m, n_comm, q_ppm)],
        "n_edges long, n_communities long, modularity_ppm long",
    )


# --- degree assortativity of the co-purchase graph ----------------------------------
@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    tagged AS (
      SELECT CAST(du.d AS HUGEINT) AS d_u, CAST(dv.d AS HUGEINT) AS d_v
      FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS m,
             CAST(SUM(2 * d_u * d_v) AS HUGEINT) AS sjk,
             CAST(SUM(d_u + d_v) AS HUGEINT) AS sj,
             CAST(SUM(d_u * d_u + d_v * d_v) AS HUGEINT) AS sj2
      FROM tagged
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m AS BIGINT) AS n_edges,
           CAST((1000000 * (2 * m * sjk - sj * sj))
                // NULLIF(2 * m * sj2 - sj * sj, 0) AS BIGINT) AS assort_ppm
    FROM sums
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the support>=2 co-purchase
    graph: the Pearson correlation of endpoint degrees over the doubled
    edge list, answering "do popular parts co-occur with popular
    parts?" — the standard structure probe next to triangles/modularity.

    Exact integer ppm end-to-end: each edge contributes its (d_u, d_v)
    pair in BOTH orientations, so Sjk = SUM(2*d_u*d_v), Sj =
    SUM(d_u + d_v), Sj2 = SUM(d_u**2 + d_v**2) and

        r = (2m*Sjk - Sj**2) / (2m*Sj2 - Sj**2)

    with every moment a DECIMAL(38,0)/HUGEINT sum and r emitted as one
    truncating integer division in parts-per-million (the >2**53
    integer->double ban).  Plan: the edge self-join + two node-keyed
    degree joins + ONE scalar agg — no window, no driver data path; a
    degenerate regular graph (den=0) yields NULL on both engines."""
    # the session-shared persisted frame covers both of edges' readers
    # (deg and the tagging join) — triangle-count convention.
    edges = _copurchase_edges(spark, sf_dir)
    # Session-shared persisted deg (r10 second pass — _copurchase_deg).
    deg = _copurchase_deg(spark, sf_dir)
    d38 = "decimal(38,0)"
    du, dv = deg.alias("du"), deg.alias("dv")
    tagged = (
        edges.join(du, F.col("u") == F.col("du.n"))
        .join(dv, F.col("v") == F.col("dv.n"))
        .select(
            F.col("du.d").cast(d38).alias("d_u"),
            F.col("dv.d").cast(d38).alias("d_v"),
        )
    )
    sums = tagged.agg(
        F.count("*").cast(d38).alias("m"),
        F.sum(F.lit(2).cast(d38) * F.col("d_u") * F.col("d_v"))
        .cast(d38)
        .alias("sjk"),
        F.sum(F.col("d_u") + F.col("d_v")).cast(d38).alias("sj"),
        F.sum(F.col("d_u") * F.col("d_u") + F.col("d_v") * F.col("d_v"))
        .cast(d38)
        .alias("sj2"),
    )
    nodes = deg.agg(F.count("*").alias("n_nodes"))
    return nodes.crossJoin(sums).select(
        "n_nodes",
        F.col("m").cast("long").alias("n_edges"),
        F.expr(
            "CAST((1000000 * (2 * m * sjk - sj * sj))"
            " div NULLIF(2 * m * sj2 - sj * sj, 0) AS BIGINT)"
        ).alias("assort_ppm"),
    )


# --- k-core decomposition of the co-purchase graph ----------------------------------
KCORE_K = 3
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Unrolled peeling: each round drops nodes of degree < k and the
    edges touching them — the same fixed-round chain the Spark loop
    runs, so the two engines compute the identical e_R edge set whether
    or not the peel has converged by round R (convergence at gate SFs
    is pytest-asserted on the Spark side)."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so an
    # 8-round chain whose every round references the previous one ~3x
    # would expand to 3^8 copies of the base scan (measured: fd
    # exhaustion before any result).  Materializing each round makes
    # the oracle do the same linear work as the Spark loop.
    sql = f"""
    WITH {_COPURCHASE_SQL},
    e0 AS MATERIALIZED (SELECT u, v FROM edges)"""
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
    d{r} AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1})
      GROUP BY n
    ),
    k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r - 1} e
      JOIN k{r} a ON a.n = e.u JOIN k{r} b ON b.n = e.v
    )"""
    sql += f"""
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS n FROM e{KCORE_ROUNDS}
          UNION ALL SELECT v FROM e{KCORE_ROUNDS})
    GROUP BY n
    """
    return sql


def kcore_peel_doubled(doubled: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peel over a SYMMETRIZED (s, t) edge frame
    (each undirected edge present in both orientations): each round
    drops edges whose either endpoint has degree < k.  Returns the
    surviving symmetric frame, output-partitioned by ``s`` after any
    even round count.

    r10 rewrite (guide §2.4 "remove shuffles outright"): degrees are
    window counts on the edge frame itself — ``count(*) over
    (partition by s)`` is deg(s) and, because the frame is symmetric,
    the same device over ``t`` is deg(t) — so one round is two window
    nodes + a filter with NO self-joins, no separate degree aggregate,
    and no per-round checkpoint (each round references its predecessor
    exactly once, so the lazy plan is LINEAR and the whole peel is one
    AQE-planned job; the old groupBy+two-join form referenced it three
    times and needed a lazy localCheckpoint per round, compiled
    non-adaptively at session width — 8 rounds of 32/64-partition
    exchanges over what is, at sf0.1, a 3.6k-edge graph).  Window
    order ALTERNATES so each round's first window rides the previous
    round's output partitioning: exchanges drop from ~3/round to
    1/round (+1 for round one).  Skew exposure (all edges of one hot
    node in one task) is identical to the join-by-node-id shape it
    replaces; AQE sizes every exchange to the live edge set, which
    only shrinks."""
    cur = doubled
    ws, wt = Window.partitionBy("s"), Window.partitionBy("t")
    for r in range(rounds):
        first, second = (ws, wt) if r % 2 == 0 else (wt, ws)
        cur = (
            cur.withColumn("d1", F.count("*").over(first))
            .withColumn("d2", F.count("*").over(second))
            .filter((F.col("d1") >= k) & (F.col("d2") >= k))
            .select("s", "t")
        )
    return cur


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core (k = KCORE_K) of the support>=2 co-purchase graph (Seidman
    1983): iteratively peel nodes of degree < k until the remainder is
    the maximal subgraph of minimum degree k — the standard dense-
    community / influence-backbone extraction next to triangles,
    modularity, and assortativity.

    Plan shape per round: one degree aggregate + two node-keyed joins
    over the current edge set, lineage-truncated with localCheckpoint —
    the peeled edge set only shrinks, so per-round cost is monotonically
    decreasing; rounds are fixed (8) with the true-fixpoint convergence
    pytest-asserted at gate SFs (tests/test_components.py)."""
    # Doubled frame from the session-shared persisted copy (r10 second
    # pass) — the inline explode re-ran per action; the cache is one
    # row-local pass per session, shared with graph_label_propagation.
    doubled = _copurchase_doubled(spark, sf_dir)
    cur = kcore_peel_doubled(doubled, KCORE_K, KCORE_ROUNDS)
    # The symmetric frame already holds one row per (node, incident
    # edge), so the per-node count IS core_degree — no union re-fanout;
    # KCORE_ROUNDS is even, so the final round left the frame
    # partitioned by ``s`` and this aggregate adds no exchange.
    return cur.groupBy(F.col("s").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


# --- link prediction by neighborhood Jaccard ----------------------------------------
LINKPRED_TOPK = 20


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    sym AS (
      SELECT u AS a, v AS b FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    wedge AS (
      -- candidate pairs: share >=1 common neighbor, not already linked
      SELECT s1.a AS u, s2.b AS v, CAST(COUNT(*) AS BIGINT) AS common
      FROM sym s1 JOIN sym s2 ON s1.b = s2.a AND s1.a < s2.b
      GROUP BY s1.a, s2.b
    ),
    cand AS (
      SELECT w.u, w.v, w.common
      FROM wedge w LEFT JOIN edges e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL
    ),
    scored AS (
      SELECT c.u, c.v, c.common,
             du.d + dv.d - c.common AS unions,
             CAST((1000000 * c.common) // (du.d + dv.d - c.common)
                  AS BIGINT) AS jaccard_ppm
      FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
    )
    SELECT u, v, common, CAST(unions AS BIGINT) AS unions, jaccard_ppm,
           CAST(rnk AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY jaccard_ppm DESC, common DESC, u, v) AS rnk
      FROM scored
    )
    WHERE rnk <= {LINKPRED_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell &
    Kleinberg 2003): for non-adjacent part pairs sharing at least one
    co-purchase neighbor, score |N(u)∩N(v)| / |N(u)∪N(v)| and keep the
    top-{LINKPRED_TOPK} predicted links — the "will co-occur next"
    recommendation primitive on the same shared edge set as
    triangles/assortativity/k-core.

    Scale shape: candidates come from the WEDGE join (bounded by
    Σdeg² like triangle counting — never all pairs), the intersection
    count IS the wedge count, the union derives from the degree table,
    and the score is exact integer ppm (one truncating division); the
    final top-k is orderBy+limit (TakeOrderedAndProject), not a global
    window."""
    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    ).transform(shared_plan)
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = (
        s1.join(
            s2,
            (F.col("s1.b") == F.col("s2.a")) & (F.col("s1.a") < F.col("s2.b")),
        )
        .groupBy(F.col("s1.a").alias("u"), F.col("s2.b").alias("v"))
        .agg(F.count("*").alias("common"))
    )
    cand = wedge.join(edges, ["u", "v"], "left_anti")
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "d_u")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "d_v")
    scored = (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            (F.col("d_u") + F.col("d_v") - F.col("common")).alias("unions"),
            F.expr(
                "CAST((1000000 * common) div (d_u + d_v - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    ranked = scored.orderBy(
        F.desc("jaccard_ppm"), F.desc("common"), "u", "v"
    ).limit(LINKPRED_TOPK)
    w = Window.orderBy(F.desc("jaccard_ppm"), F.desc("common"), "u", "v")
    return ranked.select(
        "u",
        "v",
        "common",
        "unions",
        "jaccard_ppm",
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --- label-propagation communities --------------------------------------------------
LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation.  Every round is AS
    MATERIALIZED — the k-core lesson: DuckDB inlines plain CTEs, so a
    chain where round r references round r-1 multiple times expands
    exponentially into base scans (measured as fd exhaustion)."""
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(
            f"""l{r} AS MATERIALIZED (
      SELECT s AS n, lab FROM (
        SELECT e.s, l.lab,
               ROW_NUMBER() OVER (
                 PARTITION BY e.s
                 ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
        FROM und e JOIN l{r - 1} l ON l.n = e.t
        GROUP BY e.s, l.lab
      ) WHERE rn = 1
    )"""
        )
    chain = ",\n    ".join(rounds)
    return f"""
    WITH {_COPURCHASE_SQL},
    und AS MATERIALIZED (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges
    ),
    l0 AS MATERIALIZED (SELECT n, CAST(n AS BIGINT) AS lab FROM deg),
    {chain}
    SELECT CAST(n AS BIGINT) AS node, CAST(lab AS BIGINT) AS community
    FROM l{LPA_ROUNDS}
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the support>=2 co-purchase graph — the linear-time
    community baseline next to modularity/k-core, made DETERMINISTIC:
    each node adopts the neighbor label with the highest count, ties
    broken by smallest label (the standard derandomization), for a
    fixed LPA_ROUNDS synchronous rounds.

    Plan: per round ONE join (labels into the doubled edge list, keyed
    on the neighbor node) + ONE two-level aggregation whose argmax is
    a single ``min(struct(-count, label))`` — no window over raw data,
    no driver data path; ``localCheckpoint`` truncates lineage per
    round (the pagerank convention).  State per round is one label per
    node; shuffle keys are node ids — at 100 TB this is exactly
    GraphX/Pregel's LPA schedule expressed in DataFrame ops."""
    # Session-shared symmetrized frame (r10 second pass): the old
    # unionAll + shared_plan checkpoint re-materialized 64 near-empty
    # tasks per action; the persisted explode-doubled frame is built
    # once per session and every round join reads the cache.
    und = _copurchase_doubled(spark, sf_dir)
    labels = und.select(F.col("s").alias("n")).distinct().select(
        "n", F.col("n").alias("lab")
    )
    for i in range(LPA_ROUNDS):
        nb = (
            und.join(labels.select(F.col("n").alias("t2"), "lab"),
                     F.col("t2") == F.col("t"))
            .groupBy("s", "lab")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            nb.groupBy("s")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lab").alias("lab")
                    )
                ).alias("m")
            )
            .select(F.col("s").alias("n"), F.col("m.lab").alias("lab"))
        )
        # NO in-loop checkpoint (r10, guide §2.2/§2.4): the label
        # lineage is LINEAR (each round references the previous labels
        # exactly once; the multiply-referenced edge side is the
        # already-checkpointed `und`), so the whole 4-round loop is one
        # lazy plan compiled at action under the session's AQE — every
        # per-round exchange coalesces to the live label-table size
        # instead of the 32/64-partition session width the old
        # every-3rd-round lazy checkpoint compiled non-adaptively
        # (measured: 64-task near-empty stages dominating the query at
        # sf0.1, 4.1s -> see OPTIMIZATION_r10.md).
    return labels.select(
        F.col("n").alias("node"), F.col("lab").alias("community")
    )


# --- local clustering coefficient -----------------------------------------------------
@query(
    "graph_local_clustering",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
      FROM edges e
      JOIN deg du ON du.n = e.u
      JOIN deg dv ON dv.n = e.v
    ),
    od AS (
      SELECT o.a, o.b, da.d AS d_a, db.d AS d_b
      FROM oriented o JOIN deg da ON da.n = o.a JOIN deg db ON db.n = o.b
    ),
    closed AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM od e1
      JOIN od e2 ON e2.a = e1.a
                AND (e1.d_b, e1.b) < (e2.d_b, e2.b)
      JOIN od e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS n FROM closed
      UNION ALL SELECT y FROM closed
      UNION ALL SELECT z FROM closed
    ),
    pernode AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_tri FROM corners GROUP BY n
    )
    SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
           COALESCE(p.n_tri, 0) AS n_triangles,
           CAST(CASE WHEN deg.d >= 2
                THEN (2000000 * COALESCE(p.n_tri, 0))
                       // (deg.d * (deg.d - 1)) END AS BIGINT) AS lcc_ppm
    FROM deg LEFT JOIN pernode p ON p.n = deg.n
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    2·triangles(v) / (deg(v)·(deg(v)−1)) on the co-purchase graph —
    the per-node "how clique-like is my neighborhood" metric next to
    the global triangle count and assortativity.

    Triangles are enumerated ONCE by the same degree-ordered
    compact-forward wedge join as graph_triangle_count (O(m^1.5) wedge
    fan-out; shared `_COPURCHASE_SQL`/`_copurchase_edges` so operator
    and oracle cannot drift), then each closed triangle credits its
    three corners via a 3-way unpivot — one extra groupBy on the node
    key, no new wedge work.  The coefficient is a truncating ppm
    division of exact integers; degree-1 nodes emit NULL (undefined)
    on both engines."""
    edges = _copurchase_edges(spark, sf_dir)
    # Session-shared persisted deg (r10 second pass — _copurchase_deg).
    deg = _copurchase_deg(spark, sf_dir)
    # Session-shared persisted oriented frame (r10 second pass —
    # _copurchase_oriented), shared with graph_triangle_count.
    od = _copurchase_oriented(spark, sf_dir)
    e1, e2, e3 = od.alias("e1"), od.alias("e2"), od.alias("e3")
    lt = (F.col("e1.d_b") < F.col("e2.d_b")) | (
        (F.col("e1.d_b") == F.col("e2.d_b")) & (F.col("e1.b") < F.col("e2.b"))
    )
    closed = (
        e1.join(e2, (F.col("e2.a") == F.col("e1.a")) & lt)
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    corners = closed.selectExpr("stack(3, x, y, z) AS (n)")
    pernode = corners.groupBy("n").agg(F.count("*").alias("n_tri"))
    return (
        deg.join(pernode.withColumnRenamed("n", "pn"),
                 F.col("pn") == F.col("n"), "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST(CASE WHEN d >= 2 THEN (2000000 *"
                " COALESCE(n_tri, CAST(0 AS BIGINT)))"
                " div (CAST(d AS BIGINT) * (d - 1)) END AS BIGINT)"
            ).alias("lcc_ppm"),
        )
    )


# --- degree distribution ----------------------------------------------------------------
@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    hist AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n_nodes) AS HUGEINT) AS n FROM hist)
    SELECT CAST(d AS BIGINT) AS degree, n_nodes,
           CAST((1000000 * CAST(SUM(n_nodes) OVER (ORDER BY d DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS HUGEINT)) // tot.n AS BIGINT) AS ccdf_ppm
    FROM hist, tot
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with the
    complementary CDF in exact ppm — the scale-free diagnostic read
    (a straight CCDF on log-log axes ⇒ power-law tail ⇒ expect hubs,
    plan for skew) that motivates the engine's salting and
    degree-ordered wedge strategies.

    Shares `_COPURCHASE_SQL`/`_copurchase_edges` with the rest of the
    graph family; the CCDF window rides the DEGREE-VALUE histogram
    (value-cardinality support, m23/m24 argument), never the node
    table."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count("*").alias("n_nodes"))
    tot = hist.agg(F.sum("n_nodes").cast("decimal(38,0)").alias("n"))
    wc = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("long").alias("degree"),
            "n_nodes",
            F.sum("n_nodes").over(wc).cast("decimal(38,0)").alias("cum"),
            "n",
        )
        .selectExpr(
            "degree",
            "n_nodes",
            "CAST((1000000 * cum) div n AS BIGINT) AS ccdf_ppm",
        )
    )
