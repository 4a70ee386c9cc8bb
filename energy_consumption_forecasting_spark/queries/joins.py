"""Joins — SURVEY.md §2.3 (J1-J8, plus the anti-join Spark gives free).

Scale notes: dimension tables (region/nation/customer at TPC-H ratios)
are broadcast — no shuffle of the fact side; semi/anti joins stay
semi/anti all the way down (no materialized distinct); the positional
joins make row order explicit with ``row_number`` keys, which is the only
correct reading of pandas index alignment on a distributed engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ._util import tbl


# --- J1: equi inner join, small dim broadcast (ETL.py:295-311) ---------------
@query(
    "j1_broadcast_dim_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def j1_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "r_name")
    )


# --- J2: equi join on date between two daily aggregates (N:215,646) ----------
@query(
    "j2_daily_date_join",
    oracle="""
    WITH daily_orders AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_demand
      FROM orders GROUP BY 1
    ),
    daily_ship AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS day_qty
      FROM lineitem GROUP BY 1
    )
    SELECT daily_orders.d AS d, day_demand, day_qty
    FROM daily_orders JOIN daily_ship USING (d)
    """,
)
def j2_daily_date_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily_orders = (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("day_demand")
        )
    )
    daily_ship = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("day_qty")
        )
    )
    return daily_orders.join(daily_ship, "d").select("d", "day_demand", "day_qty")


# --- J5: semi-join via list membership (ETL.py:174) ---------------------------
@query(
    "j5_semi_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'
    )
    """,
)
def j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    finished = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(
        finished.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# --- anti-join (free Spark capability noted in SURVEY §2.3) -------------------
@query(
    "j_anti_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'
    )
    """,
)
def j_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    finished = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(
        finished.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# --- J7: positional index join (ts_kmeans_base.ipynb:2200) --------------------
@query(
    "j7_positional_join",
    oracle="""
    WITH a AS (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_orderkey
      FROM orders WHERE o_orderstatus = 'O'
    ),
    b AS (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_totalprice
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT a.rn AS rn, a.o_orderkey, b.o_totalprice
    FROM a JOIN b USING (rn)
    """,
)
def j7_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-style index alignment made explicit with row_number keys.

    Spark has no row order, so positional alignment (reference
    ``cluster_map.join(df_all_mean)``) must name its ordering key.
    """
    from ..operators.ranking import global_row_number_lazy

    orders = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    ranked = global_row_number_lazy(
        orders.select("o_orderkey", "o_totalprice"),
        ["o_orderkey"],
        # integer division is monotone in the key: data-keyed offsets,
        # no range-shuffle sampling pass, no checkpoint, no count job
        bucket=F.expr("o_orderkey div 16384"),
    )
    a = ranked.select("rn", "o_orderkey")
    b = ranked.select("rn", "o_totalprice")
    return a.join(b, "rn").select("rn", "o_orderkey", "o_totalprice")


# --- J8: column-wise concat of same-source columns (evaluation.ipynb:236) -----
@query(
    "j8_colwise_concat",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS d,
           o_totalprice - 1000.0 AS signed_error
    FROM orders
    """,
)
def j8_colwise_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.concat([dates, errors], axis=1) — both sides derive from one
    frame, so it collapses to a single select (SURVEY §2.3 J8)."""
    return tbl(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        (F.col("o_totalprice") - 1000.0).alias("signed_error"),
    )


# --- J9 (extension): correlated LATERAL top-n per key -------------------------------
_LATERAL_TOPN_SQL = """
    SELECT c.c_custkey, t.o_orderkey,
           CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
    FROM customer c,
         LATERAL (
           SELECT o_orderkey, o_totalprice
           FROM orders o
           WHERE o.o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) t
"""


@query("j9_lateral_topn", oracle=_LATERAL_TOPN_SQL)
def j9_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by
    price, written as the SQL a warehouse user would write.  Catalyst
    DECORRELATES the per-row subquery into a set-based plan (window
    rank inside a join — visible in explain as no nested-loop
    anything), so the per-customer LIMIT never executes row-at-a-time;
    the oracle runs the same LATERAL text on DuckDB.

    Scale: the decorrelated plan is one shuffle on the correlation key
    + a per-key rank window — exactly the top-k-per-key shape, with
    customer-cardinality partitions."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPN_SQL)
