"""Aggregations — SURVEY.md §2.4 (A1-A9) plus TPC-H-shaped headliners.

All hash aggregates with map-side partial aggregation; date keys are
``to_date``/``trunc`` expressions so the group count stays bounded by the
calendar, not the row count — the shape that survives a 100× scale-up.

Numeric determinism: money/quantity columns carry two decimal digits, so
they are cast to DECIMAL before summation.  Decimal sums are exact (no
float addition-order dependence across partitions/engines); means are
derived as ``CAST(sum AS DOUBLE) / count`` — a single deterministic float
op — instead of rounding an order-dependent double sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ._util import tbl


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(18,2)")


def _exact_avg(c: str) -> Column:
    """Exact-decimal sum divided by count — engine-independent double."""
    return F.sum(_dec(c)).cast("double") / F.count("*")


# --- A1: group-by day, mean (normalization.ipynb:183-205) ---------------------
@query(
    "a1_daily_mean",
    oracle="""
    SELECT CAST(l_shipdate AS DATE) AS ship_date,
           CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
    FROM lineitem
    GROUP BY 1
    """,
)
def a1_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly→daily mean rollup, the EP2 spine (N:183-188,199-205).
    r10 note: a ROUND-ROBIN spread was A/B'd here and was
    neutral-to-negative (1.44 → 1.56 s) — the keyless repartition's
    map-side sort (SPARK-23207) cost what the spread saved.  The
    xxhash64-keyed spread (second pass; same device as tpch_q1) has no
    sort and wins: 1.70 → 1.23 s median at sf0.1.  Hash key uses only
    the three measure columns the aggregate already reads; decimal
    sums are exact under any row placement."""
    return (
        tbl(
            spark, sf_dir, "lineitem",
            spread=[F.xxhash64("l_quantity", "l_extendedprice", "l_discount")],
        )
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            _exact_avg("l_quantity").alias("avg_qty"),
            _exact_avg("l_extendedprice").alias("avg_price"),
            _exact_avg("l_discount").alias("avg_disc"),
        )
    )


# --- A2: group-by month, sum (normalization.ipynb:435-440) --------------------
@query(
    "a2_monthly_sum",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_demand
    FROM orders
    GROUP BY 1
    """,
)
def a2_monthly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "MM").alias("month"))
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("total_demand"))
    )


# --- A3: deterministic pivot aggregate (ETL.py:211-217) -----------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "a3_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           MIN(CASE WHEN event_type = 'click'    THEN value END) AS click,
           MIN(CASE WHEN event_type = 'error'    THEN value END) AS error,
           MIN(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
           MIN(CASE WHEN event_type = 'signup'   THEN value END) AS signup,
           MIN(CASE WHEN event_type = 'view'     THEN value END) AS view
    FROM events
    GROUP BY 1
    """,
)
def a3_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an explicit value list (SURVEY §4.2.5): no
    extra distinct job, deterministic column order.  The reference's
    aggfunc="first" is order-dependent; we use MIN for a well-defined
    result on an unordered engine."""
    return (
        tbl(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.min("value"))
    )


# --- A4: month min/max boundaries (ts_kmeans_base.ipynb:1070) ------------------
@query(
    "a4_month_boundaries",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(MIN(o_orderdate) AS DATE) AS first_day,
           CAST(MAX(o_orderdate) AS DATE) AS last_day
    FROM orders
    GROUP BY 1
    """,
)
def a4_month_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "MM").alias("month"))
        .agg(
            F.min(F.to_date("o_orderdate")).alias("first_day"),
            F.max(F.to_date("o_orderdate")).alias("last_day"),
        )
    )


# --- A5: month-end resample mean (ts_kmeans_base.ipynb:2104) -------------------
@query(
    "a5_month_end_mean",
    oracle="""
    SELECT last_day(CAST(ts AS DATE)) AS month_end,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def a5_month_end_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .groupBy(F.last_day(F.to_date("ts")).alias("month_end"))
        .agg(_exact_avg("value").alias("avg_value"))
    )


# --- A6: distinct values (ETL.py:232,298) --------------------------------------
@query(
    "a6_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def a6_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --- A7: global mean/std (optimization.py:77) ------------------------------------
@query(
    "a7_global_stats",
    oracle="""
    WITH s AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sq,
             COUNT(*) AS n
      FROM orders
    )
    SELECT sm / n AS mean_price,
           sqrt((sq - sm * sm / n) / (n - 1)) AS std_price
    FROM s
    """,
)
def a7_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev from exact decimal sums (sum, sum-of-squares): the
    distributed moment merge order never touches the result."""
    s = tbl(spark, sf_dir, "orders").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("sm"),
        F.sum(_dec("o_totalprice") * _dec("o_totalprice")).cast("double").alias("sq"),
        F.count("*").alias("n"),
    )
    return s.select(
        (F.col("sm") / F.col("n")).alias("mean_price"),
        F.sqrt(
            (F.col("sq") - F.col("sm") * F.col("sm") / F.col("n")) / (F.col("n") - 1)
        ).alias("std_price"),
    )


# --- A8: row-wise mean across columns (ts_kmeans_base.ipynb:2123) ----------------
@query(
    "a8_rowwise_mean",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_quantity + l_discount + l_tax) / 3.0 AS row_mean
    FROM lineitem
    """,
)
def a8_rowwise_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("l_quantity") + F.col("l_discount") + F.col("l_tax")) / 3.0).alias(
            "row_mean"
        ),
    )


# --- A9: histogram via explicit buckets (evaluation.ipynb:6232-6244) --------------
@query(
    "a9_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 5000.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
    """,
)
def a9_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 5000.0).cast("long").alias("bucket")
        )
        .agg(F.count("*").alias("n"))
    )


# --- approximate distinct (free Spark capability, SURVEY §2.4 note) ---------------
@query(
    "a_count_distinct",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY 1
    """,
)
def a_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


# --- TPC-H Q1 shape: the multi-aggregate headliner -------------------------------
@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r10, guide §2.5/§6): the single-row-group testdata scan
    # runs the whole 8-aggregate decimal map side on ONE task (stage
    # profile: 1.8 s CPU, 3 tasks, one doing all the work); spread the
    # filtered rows first — a scan that is already wide skips it (see
    # _util.tbl).
    # Spread key: xxhash64 over measure columns the aggregate already
    # reads (guide §2.5 deterministic synthetic key).  Round-robin
    # was the first fix, but a keyless repartition pays a
    # local sort of the whole input on the single map task
    # (SPARK-23207) — A/B at sf0.1: rr 1.17 s / xxhash 0.74 s / no
    # spread 1.15 s.  The hash key adds no ReadSchema column (the
    # plan-contract test pins 7) and decimal sums are exact under any
    # row placement.  Catalyst pushes the shipdate filter below the
    # repartition (plan-contract test pins PushedFilters + ReadSchema).
    li = tbl(
        spark, sf_dir, "lineitem",
        spread=[F.xxhash64("l_quantity", "l_extendedprice", "l_discount", "l_tax")],
    ).filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        F.sum(
            _dec("l_extendedprice")
            * (one - _dec("l_discount"))
            * (one + _dec("l_tax"))
        )
        .cast("double")
        .alias("sum_charge"),
        _exact_avg("l_quantity").alias("avg_qty"),
        _exact_avg("l_extendedprice").alias("avg_price"),
        _exact_avg("l_discount").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- TPC-H Q3 shape: join + agg + filter headliner --------------------------------
@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, order_date, o_orderpriority
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


# Shared exact part-revenue basis (1e-4-dollar integer units) for the
# concentration/classification family (Pareto ABC, Gini, ABC-XYZ).
# decimal(18,2) FIRST — a direct double->long cast TRUNCATES in Spark
# but ROUNDS in DuckDB; the decimal cast rounds identically on both
# engines (the repo-wide exact-cents rule).
_PART_REV_SQL = """rev AS (
      SELECT l_partkey AS p,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                                    AS BIGINT))) AS BIGINT)
               AS rev_e4
      FROM lineitem GROUP BY 1
    )"""


def _part_revenue(li: DataFrame) -> DataFrame:
    """(p, rev_e4) — the Spark twin of _PART_REV_SQL.

    r10 note (measured and left alone): BOTH a scan spread here (the lazy
    rank/prefix consumers read this frame twice, so the spread
    exchange pays double: 1.65 → 2.72 s A/B at sf0.1) and a
    shared_plan checkpoint (1.56 → 2.6 s — non-adaptive compile +
    block materialization) LOST to the plain recompute; the map-side
    partial aggregation already collapses to part-cardinality before
    the exchange."""
    rev_line = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "long"
    ) * (100 - (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long"))
    return li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(rev_line).cast("long").alias("rev_e4")
    )


# Fixed band width for the lazy revenue prefix sum: 2^24 e4-dollar
# units (~$1.7k).  Chosen against the distribution's SHAPE, which is
# catalog-size-invariant: per-part revenue is a sum over a roughly
# constant number of lineitems whose prices live in a fixed range, so
# the value range — and with it the band COUNT (range/2^24, ~1.1k at
# sf0.1) — does not grow with the catalog, while each band's share of
# parts FALLS as N grows (measured 0.55% max at sf0.01, 0.31% at
# sf0.1).  That is what the round-6 review found missing in the log2-
# band variant (exponentially wide center bands held most parts);
# uniform fine bands over a bounded range have no dominant band, so
# the within-band window stays parallel and the offsets window runs
# over ~1.1k per-band sums — the sanctioned tiny-series window.
_REV_BAND_E4 = 16_777_216


def _rev_cum_lazy(rev: DataFrame) -> DataFrame:
    """(p, rev_e4, cum, total): exact running revenue ordered by
    (rev_e4 DESC, p) plus the grand total, as ONE lazy plan — the
    banded ``global_prefix_sum_lazy`` with fixed-width value bands
    (negated so the bucket is monotone non-decreasing along the
    descending order).  Shared by a_pareto_abc / a_abc_xyz.

    r10 note (measured and left alone): the lazy prefix sum reads its
    input twice (band partials + main pass), so the lineitem revenue
    aggregation runs once per consumer — a shared_plan checkpoint of
    the part-sized aggregate was A/B'd and was ~1.7x SLOWER (1.56 →
    2.6 s at sf0.1): the non-adaptively compiled subtree + block
    materialization cost more than the adaptive recompute (the
    pipeline_lm_buckets lesson).  Keep the recompute."""
    from ..operators.ranking import global_prefix_sum_lazy

    return global_prefix_sum_lazy(
        rev,
        [F.col("rev_e4").desc(), F.col("p")],
        ["rev_e4"],
        bucket=-F.expr(f"rev_e4 div {_REV_BAND_E4}"),
        cum_cols=["cum"],
        total_col="total",
    )


# --- Pareto / ABC classification over part revenue ----------------------------------
@query(
    "a_pareto_abc",
    oracle=f"""
    WITH {_PART_REV_SQL},
    cum AS (
      SELECT p, rev_e4,
             SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT CAST(SUM(rev_e4) AS BIGINT) FROM rev) AS total
      FROM rev
    ),
    classed AS (
      SELECT *,
             CASE WHEN 5 * cum <= 4 * total THEN 'A'
                  WHEN 20 * cum <= 19 * total THEN 'B'
                  ELSE 'C' END AS abc
      FROM cum
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_e4) AS BIGINT) AS class_rev_e4,
           CAST(SUM(rev_e4) AS DOUBLE) / CAST(MIN(total) AS DOUBLE) AS rev_share
    FROM classed GROUP BY abc
    """,
)
def a_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by exact
    revenue, class A = top sellers covering 80% of revenue, B to 95%,
    C the tail — the classic skew diagnostic (and, for a corpus, the
    same query classifies sources by token contribution).

    Revenue is integer 1e-4-dollar units (cents x (100 - discount
    cents)) so every cumulative value is an exact BIGINT, and the class
    boundaries are integer comparisons (5*cum <= 4*total), never a
    double threshold.  The ranked running total uses
    ``operators/ranking.global_prefix_sum_lazy`` over (revenue DESC,
    part) with fixed-width revenue bands as the monotone bucket (see
    ``_rev_cum_lazy``) — the part table is dimension-sized here but
    grows with the catalog, so the cumsum gets the distributed
    banded shape, never a single-partition window — and the whole
    classification is ONE lazy plan (zero construction-time jobs)."""
    li = tbl(spark, sf_dir, "lineitem")
    rev = _part_revenue(li)
    cum = _rev_cum_lazy(rev)
    abc = (
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
    )
    return (
        cum.groupBy(abc.alias("abc"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev_e4").cast("long").alias("class_rev_e4"),
            (
                F.sum("rev_e4").cast("double")
                / F.min("total").cast("double")
            ).alias("rev_share"),
        )
    )


# --- A10: CUBE multi-dimensional aggregate ------------------------------------------
@query(
    "a_cube_source_lang",
    oracle="""
    SELECT COALESCE(source, '<all>') AS source,
           COALESCE(lang, '<all>') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (source, lang)
    """,
)
def a_cube_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregate via CUBE(source, lang): all four
    grouping sets — (source, lang), (source), (lang), () — in ONE
    pass, with grouping_id disambiguating real NULL keys from subtotal
    rows (both engines' GROUPING bit order: first listed column is the
    high bit).  The OLAP subtotal surface the reference's pandas
    pivot-margins code paths approximate; Spark computes every set in
    a single expanded shuffle (Expand node), no per-set rescan.

    Scale: Expand multiplies rows by #grouping-sets (4) BEFORE the
    map-side combine — the shuffle itself stays aggregated; for
    high-cardinality cubes prefer explicit GROUPING SETS of the
    combinations actually consumed."""
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "gid",
            "n_docs",
            "total_chars",
        )
    )


# --- A11: ROLLUP time-hierarchy subtotals -------------------------------------------
@query(
    "a_rollup_time_hierarchy",
    oracle="""
    SELECT COALESCE(CAST(y AS VARCHAR), '<all>') AS y,
           COALESCE(CAST(m AS VARCHAR), '<all>') AS m,
           CAST(GROUPING(y) * 2 + GROUPING(m) AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
             EXTRACT(MONTH FROM o_orderdate) AS m,
             o_totalprice
      FROM orders
    )
    GROUP BY ROLLUP (y, m)
    """,
)
def a_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy subtotals via ROLLUP(year, month): month rows,
    year subtotals, and the grand total in ONE Expand pass —
    the drill-down surface of a reporting layer, with grouping_id
    separating subtotal rows from real keys and the exact-decimal rule
    keeping every level's sum bit-identical cross-engine.

    Scale: like CUBE but ×3 rows into the map-side combine instead of
    ×4; the shuffle carries only aggregated (y, m) cells."""
    orders = tbl(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        "o_totalprice",
    )
    return (
        orders.rollup("y", "m")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("<all>")).alias("y"),
            F.coalesce(F.col("m").cast("string"), F.lit("<all>")).alias("m"),
            "gid",
            "n_orders",
            "total_price",
        )
    )


# --- Gini coefficient of revenue concentration --------------------------------------
@query(
    "a_gini_concentration",
    oracle=f"""
    WITH {_PART_REV_SQL},
    ranked AS (
      SELECT rev_e4,
             row_number() OVER (ORDER BY rev_e4 ASC, p) AS rn
      FROM rev
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(rev_e4) AS HUGEINT) AS t,
             CAST(SUM(CAST(rn AS HUGEINT) * CAST(rev_e4 AS HUGEINT))
                  AS HUGEINT) AS w
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           CAST(t AS BIGINT) AS total_rev_e4,
           CAST((1000000 * (2 * w - (n + 1) * t)) // (n * t) AS BIGINT)
             AS gini_ppm
    FROM sums
    """,
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of part-revenue concentration — the scalar
    companion to the ABC curve (a_pareto_abc), and for a training
    corpus the same query measures source-contribution inequality.

    Exact rational algebra end-to-end: integer 1e-4-dollar revenues,
    the rank-weighted sum via the distributed two-pass rank (no
    single-partition window), all moments as DECIMAL(38,0)/HUGEINT
    (the rank x revenue products overflow int64 at catalog scale),
    and gini_ppm = an exact integer floor division in parts-per-
    million — a >2^53 integer→double cast rounds differently across
    engines (the HHI lesson), so no float is ever formed."""
    from ..operators.ranking import global_row_number_lazy

    li = tbl(spark, sf_dir, "lineitem")
    rev = _part_revenue(li)
    ranked = global_row_number_lazy(
        rev,
        [F.col("rev_e4").asc(), F.col("p")],
        bucket=F.expr("rev_e4 div 1000000"),
        rn_col="rn",
    )
    d38 = "decimal(38,0)"
    sums = ranked.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("rev_e4").cast(d38).alias("t"),
        F.sum(F.col("rn").cast(d38) * F.col("rev_e4").cast(d38))
        .cast(d38)
        .alias("w"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_parts"),
        F.col("t").cast("long").alias("total_rev_e4"),
        F.expr(
            "CAST((1000000 * (2 * w - (n + 1) * t)) div (n * t) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# --- ABC-XYZ matrix (value concentration x demand variability) -----------------------
@query(
    "a_abc_xyz",
    oracle=f"""
    WITH {_PART_REV_SQL},
    cum AS (
      SELECT p, rev_e4,
             SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT CAST(SUM(rev_e4) AS BIGINT) FROM rev) AS total
      FROM rev
    ),
    abc AS (
      SELECT p,
             CASE WHEN 5 * cum <= 4 * total THEN 'A'
                  WHEN 20 * cum <= 19 * total THEN 'B'
                  ELSE 'C' END AS abc
      FROM cum
    ),
    monthly AS (
      SELECT l_partkey AS p, date_trunc('month', l_shipdate) AS m,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS qc
      FROM lineitem GROUP BY 1, 2
    ),
    varc AS (
      SELECT p,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(qc AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(qc AS HUGEINT) * CAST(qc AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM monthly GROUP BY p
    ),
    xyz AS (
      -- CV^2 = (n*S2 - S1^2)/S1^2; X: CV^2 <= 1/4, Y: <= 1, else Z —
      -- integer cross-multiplied, no float thresholds
      SELECT p,
             CASE WHEN 4 * (n * s2 - s1 * s1) <= s1 * s1 THEN 'X'
                  WHEN (n * s2 - s1 * s1) <= s1 * s1 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM varc
    )
    SELECT abc.abc, xyz.xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM abc JOIN xyz USING (p)
    GROUP BY 1, 2
    """,
)
def a_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: revenue-concentration class (exact
    integer cumulative thresholds, as a_pareto_abc) crossed with
    demand-VARIABILITY class from the coefficient of variation of
    monthly quantity — CV² as exact integer moments with
    cross-multiplied dyadic thresholds (X: CV ≤ 1/2, Y: CV ≤ 1), so
    not a single float enters the classification.  The two per-part
    dimensions join on the part key (both dimension-sized), then one
    9-cell agg."""
    li = tbl(spark, sf_dir, "lineitem")
    rev = _part_revenue(li)
    # same lazy banded prefix sum as a_pareto_abc (_rev_cum_lazy:
    # fixed-width value bands over the catalog-size-invariant revenue
    # range — zero construction-time jobs)
    cum = _rev_cum_lazy(rev)
    abc = cum.select(
        "p",
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    monthly = li.groupBy(
        F.col("l_partkey").alias("p"), F.trunc("l_shipdate", "MM").alias("m")
    ).agg(
        F.sum((F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("qc")
    )
    d38 = "decimal(38,0)"
    varc = monthly.groupBy("p").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("qc").cast(d38)).cast(d38).alias("s1"),
        F.sum(F.col("qc").cast(d38) * F.col("qc").cast(d38))
        .cast(d38)
        .alias("s2"),
    )
    num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    den = F.col("s1") * F.col("s1")
    xyz = varc.select(
        "p",
        F.when(4 * num <= den, "X")
        .when(num <= den, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "p")
        .groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"))
    )


# --- Herfindahl-Hirschman concentration index per market -----------------------------
@query(
    "a_hhi_market",
    oracle="""
    WITH srev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS HUGEINT) AS rev_c
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    )
    SELECT CAST(nation AS INT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(rev_c) AS BIGINT) AS market_rev_c,
           CAST((10000 * SUM(rev_c * rev_c))
                // (SUM(rev_c) * SUM(rev_c)) AS BIGINT) AS hhi_bp
    FROM srev GROUP BY nation
    """,
)
def a_hhi_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration per nation-market in BASIS
    POINTS: HHI = Σshare², computed with NO floats anywhere — Σrev²
    and (Σrev)² stay exact integers (DECIMAL(38)/HUGEINT) and
    hhi_bp = (10000·Σrev²) div (Σrev)² is an exact integer floor
    division (a >2^53 integer→double cast is NOT correctly rounded in
    every engine — measured: DuckDB HUGEINT vs Java BigDecimal differ
    at the 17th digit).  Supplier dim broadcast; two hash aggs; the
    same query over (source, doc-token) measures corpus source
    concentration."""
    li = tbl(spark, sf_dir, "lineitem")
    supp = tbl(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nation"),
    )
    d38 = "decimal(38,0)"
    srev = (
        li.join(F.broadcast(supp), "l_suppkey")
        .groupBy("nation", F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast(d38)
            .alias("rev_c")
        )
    )
    return srev.groupBy("nation").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rev_c").cast("long").alias("market_rev_c"),
        F.expr(
            "CAST((10000 * SUM(rev_c * rev_c)) div (SUM(rev_c) * SUM(rev_c))"
            " AS BIGINT)"
        ).alias("hhi_bp"),
    ).withColumn("nation", F.col("nation").cast("int"))
