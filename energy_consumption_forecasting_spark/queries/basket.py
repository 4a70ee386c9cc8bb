"""Market-basket mining: frequent co-occurring item pairs and the
association rules over them — the classic retail-analytics workload
(Agrawal & Srikant, VLDB 1994 a-priori shape), expressed as pure
DataFrame algebra with an exact SQL oracle.

Exactness discipline: supports are integers; confidence and lift are
single IEEE divisions of exact ints (< 2^53), which both engines round
identically — no accumulation-order sensitivity anywhere.

100-TB shape:
* Baskets are order-bounded (TPC-H orders hold <= 7 lines), so the
  per-basket pair explosion is O(k²) with small k — baskets collapse
  to sorted item arrays with ONE shuffle on the basket key and pairs
  explode row-locally; no self-join, no cross product across baskets.
* The a-priori prune runs first: an item pair can reach support s only
  if BOTH items appear in >= s baskets, so the candidate join uses only
  frequent items.  The frequent-item list is item-dimension-sized
  (thousands–millions of rows, KB–MB), broadcast to avoid a second
  shuffle of the basket table.  The prune is lossless — it can only
  drop pairs that could never qualify.
* Rule scoring joins the pair table to the item-count table twice;
  both sides of those joins are item-dimension-sized → broadcast.
* Below the session's broadcast budget the whole pair count runs as
  ONE int64 numpy task instead (``pair_counts_from_lines``): when the
  line table's footer row count times 16 bytes (one (order, part)
  int64 pair) is under ``spark.sql.autoBroadcastJoinThreshold``, the
  five-job Spark plan above is pure scheduling and shuffle overhead
  for a table that fits one task.  The rule is read from the parquet
  footers and the session conf while the plan is built, so it runs no
  job; at 100 TB the table is far past any budget and the Spark plan
  is the one that runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import single_task
from ..session import broadcast_budget
from ..tables import footer_row_count, table_path
from . import query
from ._util import tbl

_MINSUP = 2  # pair must co-occur in >= 2 baskets

# pair-key packing bound (r11): two non-negative int keys < 2^31 pack
# exactly into one int64 as p1*2^31 + p2 (see pair_counts_from_lines)
_PACK_LIM = 1 << 31
_PACK_ERROR = "basket pair key < 0 or >= 2^31: widen the pair packing"

# bytes one line takes in the single-task tier: an (order, part) int64 pair
_LINE_BYTES = 16

_ITEMS_SQL = """
items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair_counts AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n
  FROM items a
  JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
"""


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """All (p1 < p2) item pairs of the SORTED array column ``arr`` as rows,
    through two PIPELINED explodes: the first fans the 1-based upper
    index i over 1..k-1, the second explodes the i-prefix slice as p1
    against arr[i] as p2.  GenerateExec streams one pair at a time, so
    no row ever materializes the C(k,2) struct array — the largest
    array held is the basket itself — bounded for ANY basket size.
    Shared by the queries and the brute-force property test (the test
    must exercise THIS plan, not a private copy).  Size-<2 arrays are
    dropped (F.sequence(1, 0) is DESCENDING in Spark)."""
    step1 = baskets.filter(F.size("arr") >= 2).select(
        "arr",
        F.explode(F.sequence(F.lit(1), F.size("arr") - 1)).alias("i"),
    )
    return step1.select(
        F.explode(F.slice("arr", 1, F.col("i"))).alias("p1"),
        F.element_at("arr", F.col("i") + 1).alias("p2"),
    )


def _item_counts(lines: DataFrame) -> DataFrame:
    """Per-item distinct-basket counts — ONE groupBy with countDistinct
    over the raw line table; both the a-priori prune and the rule
    scoring derive from this single aggregation."""
    return lines.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_item")
    )


def _keep_frequent(orders, parts):
    """The a-priori prune in numpy: keep the lines whose item occurs on
    at least _MINSUP of the given lines."""
    import numpy as np

    _, inv, cnt = np.unique(parts, return_inverse=True, return_counts=True)
    keep = cnt[inv] >= _MINSUP
    return orders[keep], parts[keep]


def _merge_counts(runs):
    """Sum (distinct keys, counts) runs into one run of distinct keys."""
    import numpy as np

    runs = [r for r in runs if len(r[0])]
    if len(runs) < 2:
        empty = (np.empty(0, np.int64), np.empty(0, np.int64))
        return runs[0] if runs else empty
    keys = np.concatenate([k for k, _ in runs])
    counts = np.concatenate([c for _, c in runs])
    order = np.argsort(keys)
    keys, counts = keys[order], counts[order]
    first = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return keys[first], np.add.reduceat(counts, first)


def count_pairs_np(orders, parts, line_prune: bool, chunk: int):
    """Exact frequent-pair counts of non-null int64 (order, part) lines
    in numpy — the single-task tier's kernel; returns (p1, p2, n)
    arrays with p1 < p2 and n >= _MINSUP.

    Forms exactly the pairs the Spark tier forms: the same a-priori
    prune (raw line counts under ``line_prune``, distinct baskets
    otherwise), then (order, part) deduped as ``collect_set`` does,
    lexsorted, and each element paired as p2 with the earlier elements
    of its basket as p1.  Pairs are enumerated by one flat index, in
    chunks of at most ``chunk`` pairs, so a basket larger than a chunk
    is split by element ranges; each chunk is packed as
    p1 * 2^31 + p2 (raising the Spark tier's message on an id out of
    range) and counted, and the chunk counts merge whenever the
    unmerged runs outgrow the merged one.  Memory is bounded by the
    distinct pairs plus a few chunks, never by all C(k,2) at once."""
    import numpy as np

    if line_prune:
        orders, parts = _keep_frequent(orders, parts)
    order = np.lexsort((parts, orders))
    orders, parts = orders[order], parts[order]
    new = np.ones(len(orders), dtype=bool)
    new[1:] = (orders[1:] != orders[:-1]) | (parts[1:] != parts[:-1])
    orders, parts = orders[new], parts[new]
    if not line_prune:
        orders, parts = _keep_frequent(orders, parts)
    pos = np.arange(len(orders))
    first = np.ones(len(orders), dtype=bool)
    first[1:] = orders[1:] != orders[:-1]
    # rank in the basket = the number of pairs the element closes as p2;
    # pairs end[j] - rank[j] .. end[j] - 1 belong to element j
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0))
    end = np.cumsum(rank)
    total = int(end[-1]) if len(end) else 0
    merged = _merge_counts([])
    pending: list = []
    for lo in range(0, total, chunk):
        q = np.arange(lo, min(lo + chunk, total), dtype=np.int64)
        j = np.searchsorted(end, q, side="right")
        p1, p2 = parts[j + q - end[j]], parts[j]
        if p1.min() < 0 or p2.max() >= _PACK_LIM:
            raise ValueError(_PACK_ERROR)
        pending.append(np.unique(p1 * _PACK_LIM + p2, return_counts=True))
        if sum(len(k) for k, _ in pending) > max(chunk, len(merged[0])):
            merged, pending = _merge_counts([merged, *pending]), []
    keys, n = _merge_counts([merged, *pending])
    keep = n >= _MINSUP
    keys, n = keys[keep], n[keep]
    return keys // _PACK_LIM, keys % _PACK_LIM, n


def _single_task_pair_counts(
    lines: DataFrame, line_prune: bool, budget: int
) -> DataFrame:
    """:func:`count_pairs_np` over the whole line table in ONE
    mapInPandas task, chunked at ``budget`` bytes of packed keys.
    Building it runs no job; executing it is one job."""
    chunk = max(1, budget // 8)

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        p1, p2, n = count_pairs_np(
            *(pdf[c].to_numpy(np.int64) for c in ("l_orderkey", "l_partkey")),
            line_prune,
            chunk,
        )
        return pd.DataFrame({"p1": p1, "p2": p2, "n": n})

    return single_task.run(lines, kernel, "p1 long, p2 long, n long")


def pair_counts_from_lines(
    lines: DataFrame,
    item_counts: DataFrame | None = None,
    n_lines: int | None = None,
) -> DataFrame:
    """Frequent item pairs (p1 < p2, support n >= _MINSUP) of the
    (l_orderkey, l_partkey) lines, with lines whose order or part is
    null dropped first (the oracle's equi-join never pairs them).

    Two tiers, chosen once while the plan is built
    (``single_task.fits``): when ``n_lines`` — the exact row count of
    ``lines``, read from the parquet footers by the queries — times 16
    bytes is under the session's broadcast budget, one numpy task
    counts every pair (:func:`count_pairs_np`); otherwise, and whenever
    ``n_lines`` is None (a frame of unknown size), the Spark plan below
    runs.  Counts are exact integers, so the tiers give identical rows;
    both form the same pairs, so both fail fast on the same ids.

    ``item_counts``, when given, must be the per-item distinct-basket
    counts of ``lines`` (``_item_counts``); it replaces the raw line
    count in the prune, and the single-task tier recomputes it in numpy.

    Spark tier — one shuffle, not a self-join: baskets collapse to a
    sorted item array (groupBy on the basket key — the distinct is
    folded into the same shuffle via collect_set), pairs explode
    ROW-LOCALLY from the array (C(k,2) with k <= basket size), then one
    hash agg counts them.  The a-priori prune (items in >= _MINSUP
    baskets — lossless for pair support >= _MINSUP) drops infrequent
    items before the basket collapse so the array stays minimal.

    MEGA-BASKET GUARD (round-4 VERDICT item 5, r10 redesign): a single
    pathological basket with 10⁴+ frequent items would materialize
    C(k,2) ≈ 5·10⁷ pair structs in ONE row under the flatten form.  The
    r10 expansion streams instead: the first explode fans the 1-based
    upper index i over 1..k-1, the second explodes the i-prefix slice
    as p1 against arr[i] as p2 — GenerateExec pipelines one pair at a
    time, so the largest array any row materializes is the k-element
    basket itself (O(k) items, not O(k²) structs), for ANY basket size,
    with ONE read of the basket exchange and no small/big union (the
    r4-r9 block-split machinery's second scan + repartition shuffle are
    gone).  A mega-basket's — inherently quadratic — pair stream stays
    in one task; that serialization is the accepted trade: the output
    pair count, not per-row memory, is the binding constraint, and the
    downstream hash agg combines map-side either way.

    r10 prune cheapening (guide §2.3 "aggregate before you shuffle"):
    when the caller does not need exact per-item basket counts, the
    prune keys on plain ``count(*)`` per item instead of
    ``countDistinct(l_orderkey)`` — a raw line count is >= the distinct
    basket count, so the kept-item set is a SUPERSET of the exact
    prune's (lossless: spuriously kept items' pairs still die at the
    ``n >= {minsup}`` support filter), and the two-phase distinct
    aggregation (measured ~30 s of executor time at sf1, an extra
    30 MB exchange) collapses to one partially-aggregated pass."""
    lines = lines.select("l_orderkey", "l_partkey").where(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    spark = lines.sparkSession
    if n_lines is not None and single_task.fits(spark, n_lines * _LINE_BYTES):
        return _single_task_pair_counts(
            lines, item_counts is None, broadcast_budget(spark)
        )
    if item_counts is None:
        item_counts = lines.groupBy("l_partkey").agg(
            F.count("*").alias("n_item")
        )
    freq = item_counts.filter(F.col("n_item") >= _MINSUP)
    pruned = lines.join(
        F.broadcast(freq.select("l_partkey")), "l_partkey"
    ).select("l_orderkey", "l_partkey")
    # Session-width basket exchange (r10 second pass, guide §2.5): AQE
    # sizes the post-shuffle stage by its INPUT bytes (~5 MB at sf0.1
    # → 4 tasks), but that stage runs the C(k,2) pair explode +
    # partial pair agg whose output is 2.4× its input — the
    # expansion-width disease.  A keyed REPARTITION_BY_NUM is
    # exempt from AQE coalescing, and the basket groupBy reuses the
    # partitioning (same key, same width → no second exchange), so the
    # explode runs at session width.  Interleaved A/B at sf0.1:
    # 1.47 → 1.18 s median.
    baskets = pruned.repartition(
        pruned.sparkSession.sparkContext.defaultParallelism, "l_orderkey"
    ).groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("arr")
    )
    # r11 (guide §2.3 "narrower types"): the pair aggregation groups on
    # ONE packed int64 instead of two — p1*2^31 + p2 is exact and
    # order-preserving for 0 <= p1 < p2 < 2^31 (p1 < p2 by the sorted
    # array), cutting the partial-agg exchange row from 24 to 16 bytes
    # and the hash-agg key comparison to one long.  Keys at or past
    # 2^31 fail fast in-plan (raise_error) rather than corrupt — wider
    # catalogs must widen the pack, not silently wrap — and so do
    # negative keys, which Spark's truncating div/% would unpack into
    # the wrong pair.  Unpacked after the support filter; output
    # identical (div/mod invert the pack).
    packed = basket_pairs(baskets).select(
        F.when(
            (F.col("p1") >= 0) & (F.col("p2") < F.lit(_PACK_LIM)),
            F.col("p1") * F.lit(_PACK_LIM) + F.col("p2"),
        )
        .otherwise(F.raise_error(F.lit(_PACK_ERROR)).cast("long"))
        .alias("pk")
    )
    return (
        packed.groupBy("pk")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _MINSUP)
        .select(
            F.expr(f"pk div {1 << 31}").alias("p1"),
            (F.col("pk") % F.lit(_PACK_LIM)).alias("p2"),
            "n",
        )
    )


def _pair_counts(
    spark: SparkSession, sf_dir: str, item_counts: DataFrame | None = None
) -> DataFrame:
    lines = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return pair_counts_from_lines(
        lines,
        item_counts=item_counts,
        n_lines=footer_row_count(table_path(sf_dir, "lineitem")),
    )


@query(
    "a_basket_pairs",
    oracle=f"""
    WITH {_ITEMS_SQL}
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(n AS BIGINT) AS n
    FROM pair_counts WHERE n >= {_MINSUP}
    """,
)
def a_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item pairs: parts co-occurring in >= 2 orders.  One
    numpy task below the broadcast budget, else one basket-key groupBy
    + row-local pair explode + one hash agg; the a-priori item prune
    keeps the candidate set sub-quadratic (module docstring)."""
    return _pair_counts(spark, sf_dir).select(
        F.col("p1").cast("long"),
        F.col("p2").cast("long"),
        F.col("n").cast("long"),
    )


@query(
    "a_assoc_rules",
    oracle=f"""
    WITH {_ITEMS_SQL},
    item_counts AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1
    ),
    total AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    rules AS (
      SELECT p1 AS ante, p2 AS cons, n FROM pair_counts WHERE n >= {_MINSUP}
      UNION ALL
      SELECT p2 AS ante, p1 AS cons, n FROM pair_counts WHERE n >= {_MINSUP}
    )
    SELECT CAST(r.ante AS BIGINT) AS ante,
           CAST(r.cons AS BIGINT) AS cons,
           CAST(r.n AS BIGINT) AS support,
           CAST(r.n AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
           CAST(r.n * t.n_orders AS DOUBLE)
             / CAST(ia.n_item * ic.n_item AS DOUBLE) AS lift
    FROM rules r
    JOIN item_counts ia ON ia.l_partkey = r.ante
    JOIN item_counts ic ON ic.l_partkey = r.cons
    CROSS JOIN total t
    """,
)
def a_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules ante→cons over the frequent pairs: confidence
    = sup(pair)/sup(ante), lift = sup(pair)·N / (sup(ante)·sup(cons)).
    Each metric is ONE division of exact integers — bit-identical
    across engines.  Item-count and total frames are broadcast
    (item-dimension / 1-row)."""
    lines = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    item_counts = _item_counts(lines)
    pairs = _pair_counts(spark, sf_dir, item_counts=item_counts)
    total = lines.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    # Row-local explode, not a two-branch union (r10 — same recompute
    # fix as a_item_item_cf's sym frame).
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("ante"), F.col("p2").alias("cons"), "n"
                ),
                F.struct(
                    F.col("p2").alias("ante"), F.col("p1").alias("cons"), "n"
                ),
            )
        ).alias("e")
    ).select("e.ante", "e.cons", "e.n")
    ia = item_counts.withColumnRenamed("l_partkey", "ante").withColumnRenamed(
        "n_item", "n_ante"
    )
    ic = item_counts.withColumnRenamed("l_partkey", "cons").withColumnRenamed(
        "n_item", "n_cons"
    )
    return (
        rules.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("ante").cast("long"),
            F.col("cons").cast("long"),
            F.col("n").cast("long").alias("support"),
            (F.col("n").cast("double") / F.col("n_ante").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n") * F.col("n_orders")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
    )


# --- item-item collaborative filtering ------------------------------------------------
@query(
    "a_item_item_cf",
    oracle=f"""
    WITH {_ITEMS_SQL},
    item_counts AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM items GROUP BY 1
    ),
    sym AS (
      SELECT p1 AS a, p2 AS b, n FROM pair_counts WHERE n >= {_MINSUP}
      UNION ALL
      SELECT p2 AS a, p1 AS b, n FROM pair_counts WHERE n >= {_MINSUP}
    ),
    scored AS (
      SELECT s.a, s.b, s.n,
             CAST(s.n AS DOUBLE)
               / sqrt(CAST(ia.n_item * ib.n_item AS DOUBLE)) AS cos_sim
      FROM sym s
      JOIN item_counts ia ON ia.l_partkey = s.a
      JOIN item_counts ib ON ib.l_partkey = s.b
    )
    SELECT CAST(a AS BIGINT) AS item, CAST(b AS BIGINT) AS similar_item,
           CAST(n AS BIGINT) AS n_co, cos_sim, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY a ORDER BY cos_sim DESC, b) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    """,
)
def a_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ('customers who bought X also
    bought Y'): cosine similarity on basket co-occurrence —
    n_ab / sqrt(n_a·n_b), one double division + sqrt over exact
    integers (the n_a·n_b product stays integer until a single cast),
    top-5 per item with deterministic tie-break.  Rides the
    single-shuffle pair explode; the scoring joins are
    item-dimension-sized broadcasts; per-item top-k is a bounded
    window.  The same query over (doc, shingle) or (user, doc) is
    content / behavioral co-recommendation at corpus scale."""
    lines = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    item_counts = _item_counts(lines)
    pairs = _pair_counts(spark, sf_dir, item_counts=item_counts)
    # Symmetrize by row-local EXPLODE, not a two-branch union (r10 —
    # the _supply_edges lesson): the union re-ran the whole pair
    # aggregation for each branch (measured: the scoring stage read
    # the 124 MB pair exchange twice at sf1).
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("a"), F.col("p2").alias("b"), "n"
                ),
                F.struct(
                    F.col("p2").alias("a"), F.col("p1").alias("b"), "n"
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b", "e.n")
    ia = item_counts.select(
        F.col("l_partkey").alias("a"), F.col("n_item").alias("na")
    )
    ib = item_counts.select(
        F.col("l_partkey").alias("b"), F.col("n_item").alias("nb")
    )
    scored = (
        sym.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .select(
            "a",
            "b",
            "n",
            (
                F.col("n").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.desc("cos_sim"), F.asc("b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("a").cast("long").alias("item"),
            F.col("b").cast("long").alias("similar_item"),
            F.col("n").cast("long").alias("n_co"),
            "cos_sim",
            "rnk",
        )
    )


# --- frequent triples (3-itemsets) ---------------------------------------------------
@query(
    "a_basket_triples",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    triple_counts AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             COUNT(*) AS n
      FROM items a
      JOIN items b ON b.l_orderkey = a.l_orderkey
                  AND a.l_partkey < b.l_partkey
      JOIN items c ON c.l_orderkey = a.l_orderkey
                  AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3
    )
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(p3 AS BIGINT) AS p3, CAST(n AS BIGINT) AS n
    FROM triple_counts WHERE n >= {_MINSUP}
    """,
)
def a_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets — the a-priori level above the pairs:
    candidate triples explode ROW-LOCALLY from the sorted basket array
    (C(k,3), k <= basket size) after the same lossless frequent-item
    prune, one hash agg counts them.  Still exactly one shuffle of the
    line table; the oracle's 3-way self-join is the shape this plan
    deliberately avoids."""
    lines = (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
    )
    # r10: superset prune on plain count(*) — a raw line count is >=
    # the distinct-basket count, so the kept-item set is a SUPERSET of
    # the exact prune's and spuriously kept items' triples still die
    # at the n >= {minsup} support filter (same lossless argument as
    # pair_counts_from_lines; the scoring here never reads n_item, so
    # the two-phase countDistinct aggregation is pure overhead).
    item_counts = lines.groupBy("l_partkey").agg(
        F.count("*").alias("n_item")
    )
    freq = item_counts.filter(F.col("n_item") >= _MINSUP)
    pruned = lines.join(
        F.broadcast(freq.select("l_partkey")), "l_partkey"
    ).select("l_orderkey", "l_partkey")
    # Session-width basket exchange — same expansion-width fix as
    # pair_counts_from_lines (C(k,3) amplification here).
    baskets = pruned.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    ).groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("arr")
    )
    # triples through THREE pipelined explodes (r10 — the basket_pairs
    # form one level up): positions a < b < c stream one row at a time,
    # so no row ever materializes the C(k,3) struct array the old
    # nested flatten built (1.6e8 structs for a poisoned k=1000 basket)
    step1 = baskets.filter(F.size("arr") >= 3).select(
        "arr",
        F.explode(F.sequence(F.lit(1), F.size("arr") - 2)).alias("a"),
    )
    step2 = step1.select(
        "arr",
        "a",
        F.explode(
            F.sequence(F.col("a") + 1, F.size("arr") - 1)
        ).alias("b"),
    )
    triples = step2.select(
        F.element_at("arr", F.col("a")).alias("p1"),
        F.element_at("arr", F.col("b")).alias("p2"),
        F.explode(
            F.slice(
                "arr", F.col("b") + 1, F.size("arr") - F.col("b")
            )
        ).alias("p3"),
    )
    return (
        triples.groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _MINSUP)
        .select(
            F.col("p1").cast("long"),
            F.col("p2").cast("long"),
            F.col("p3").cast("long"),
            F.col("n").cast("long"),
        )
    )
