"""Window operators — SURVEY.md §2.5 (W1-W3, W6-W11, W13-W17, W19-W20).

Every window names an explicit partition key and a deterministic total
order (unique tiebreaker column) — pandas' implicit row order does not
exist on a distributed engine.  Per-key windows (``partitionBy(user_id)``)
scale horizontally.  Global order over a raw fact table (the W3 rank,
the W6 train/test split, the W7 CV folds) goes through
``operators/ranking.py`` and ``ml/cv.py``, never a single-partition
``Window.orderBy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ._util import tbl


def _masked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with nulls injected on 'error' rows — the gap-fill fixture."""
    return tbl(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("v"),
    )


_MASKED_SQL = """
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
"""


# --- W1: per-key bounded ffill then bfill (ETL.py:228-242) --------------------
@query(
    "w1_bounded_gap_fill",
    oracle=f"""
    WITH masked AS ({_MASKED_SQL})
    SELECT event_id,
           COALESCE(
             v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
           ) AS filled
    FROM masked
    """,
)
def w1_bounded_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: per-station ffill(limit=7).bfill(limit=7) loop
    (ETL.py:228-242).  Here: two bounded window fills, no Python loop —
    the per-ID loop becomes ``partitionBy``, parallel across executors."""
    df = _masked_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ff = F.last("v", ignorenulls=True).over(w.rowsBetween(-7, 0))
    bf = F.first("v", ignorenulls=True).over(w.rowsBetween(0, 7))
    return df.select("event_id", F.coalesce("v", ff, bf).alias("filled"))


# --- W2: unbounded ffill/bfill (ETL.py:93; xgb.ipynb:513) ----------------------
@query(
    "w2_unbounded_fill",
    oracle=f"""
    WITH masked AS ({_MASKED_SQL})
    SELECT event_id,
           COALESCE(
             v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           ) AS filled
    FROM masked
    """,
)
def w2_unbounded_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _masked_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ff = F.last("v", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    bf = F.first("v", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    return df.select("event_id", F.coalesce("v", ff, bf).alias("filled"))


def _order_month() -> Column:
    """Year-month of the order date — monotone in the (date, key) order,
    so it is the lazy-rank bucket of W3/W6/W7."""
    return (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")


# --- W3: global time sort (ETL.py:90,219,311) -----------------------------------
@query(
    "w3_time_sort_rank",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
)
def w3_time_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A total sort is only observable through an explicit rank column
    (the correctness gate hashes order-insensitively).  Raw fact table ⇒
    two-pass distributed rank (operators/ranking.py), never a
    single-partition ``Window.orderBy`` — on the monotone-bucket fast
    path (year-month offsets; no sampling pass, no checkpoint)."""
    from ..operators.ranking import global_row_number_lazy

    ranked = global_row_number_lazy(
        tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        ["o_orderdate", "o_orderkey"],
        bucket=_order_month(),
    )
    return ranked.select("o_orderkey", "rn")


# --- W6: positional 85/15 train-test split (xgb.ipynb:532-533) -------------------
@query(
    "w6_train_test_split",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                     <= CEIL(0.85 * COUNT(*) OVER ())
                THEN 'train' ELSE 'test' END AS split
    FROM orders
    """,
)
def w6_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional 85/15 split on a raw fact table: ``ml/cv.label_split``
    on the lazy bucket rank (year-month of the order date is monotone in
    the (date, key) order), so the ceil(0.85·n) boundary is a column and
    no count job runs."""
    from ..ml.cv import label_split

    return label_split(
        tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        ["o_orderdate", "o_orderkey"],
        bucket=_order_month(),
    ).select("o_orderkey", "split")


# --- W7: blocked time-series CV folds (utils.py:8-23) -----------------------------
@query(
    "w7_blocked_cv_folds",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
             ntile(5) OVER (ORDER BY o_orderdate, o_orderkey) AS fold
      FROM orders
    )
    SELECT o_orderkey, CAST(fold AS INT) AS fold,
           CASE WHEN rn - MIN(rn) OVER (PARTITION BY fold) + 1
                     > 0.8 * COUNT(*) OVER (PARTITION BY fold)
                THEN 'val' ELSE 'train' END AS role
    FROM ranked
    """,
)
def w7_blocked_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 contiguous blocks over time order; last 20% of each block is the
    validation tail (reference utils.py:8-23 BlockingTimeSeriesSplit).

    ``ml/cv.label_folds`` on the lazy bucket rank: the ntile fold,
    within-fold position and fold size all derive from the global rank
    by integer algebra — no single-partition window, no count job."""
    from ..ml.cv import label_folds

    return label_folds(
        tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        ["o_orderdate", "o_orderkey"],
        n_folds=5,
        val_frac=0.2,
        bucket=_order_month(),
    ).select("o_orderkey", "fold", "role")


_DAILY_DEMAND_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS demand
      FROM orders GROUP BY 1
"""


def _daily_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture: the daily demand series (calendar-bounded).

    DECIMAL-typed so downstream sums/lags are exact, never dependent on
    float accumulation order (the cross-engine determinism rule)."""
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("demand")
        )
    )


# --- W8: sliding sequence windows for LSTM (LSTM.py:138-148) ----------------------
@query(
    "w8_sequence_windows",
    oracle=f"""
    WITH daily AS ({_DAILY_DEMAND_SQL}),
    seq AS (
      SELECT d,
             array_to_string(list(CAST(demand AS VARCHAR)) OVER (
               ORDER BY d ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), ',') AS seq_str,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w_len,
             lead(demand) OVER (ORDER BY d) AS target
      FROM daily
    )
    SELECT d, seq_str, target FROM seq
    WHERE w_len = 4 AND target IS NOT NULL
    """,
)
def w8_sequence_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-4 feature window + next-step target; arrays serialized to
    strings (decimal-typed) so the cross-engine hash is stable."""
    daily = _daily_demand(spark, sf_dir)
    w = Window.orderBy("d")
    frame = w.rowsBetween(-3, 0)
    return (
        daily.select(
            "d",
            F.concat_ws(
                ",", F.collect_list(F.col("demand").cast("string")).over(frame)
            ).alias("seq_str"),
            F.count("*").over(frame).alias("w_len"),
            F.lead("demand").over(w).alias("target"),
        )
        .filter((F.col("w_len") == 4) & F.col("target").isNotNull())
        .select("d", "seq_str", "target")
    )


# --- W9: lag features (evaluation.ipynb:187; xgb.ipynb:569) ------------------------
@query(
    "w9_lag_features",
    oracle=f"""
    WITH daily AS ({_DAILY_DEMAND_SQL})
    SELECT d, demand,
           lag(demand, 1) OVER (ORDER BY d) AS lag_1,
           lag(demand, 2) OVER (ORDER BY d) AS lag_2,
           lag(demand, 7) OVER (ORDER BY d) AS lag_7
    FROM daily
    """,
)
def w9_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_demand(spark, sf_dir)
    w = Window.orderBy("d")
    return daily.select(
        "d",
        "demand",
        F.lag("demand", 1).over(w).alias("lag_1"),
        F.lag("demand", 2).over(w).alias("lag_2"),
        F.lag("demand", 7).over(w).alias("lag_7"),
    )


# --- W10: differencing (ARIMA d; xgb differentiation) -------------------------------
@query(
    "w10_differencing",
    oracle=f"""
    WITH daily AS ({_DAILY_DEMAND_SQL}),
    d1 AS (
      SELECT d, demand,
             demand - lag(demand, 1) OVER (ORDER BY d) AS diff_1
      FROM daily
    )
    SELECT d, demand, diff_1,
           diff_1 - lag(diff_1, 1) OVER (ORDER BY d) AS diff_2
    FROM d1
    """,
)
def w10_differencing(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_demand(spark, sf_dir)
    w = Window.orderBy("d")
    d1 = daily.select(
        "d", "demand", (F.col("demand") - F.lag("demand", 1).over(w)).alias("diff_1")
    )
    return d1.select(
        "d",
        "demand",
        "diff_1",
        (F.col("diff_1") - F.lag("diff_1", 1).over(w)).alias("diff_2"),
    )


# --- W11: rolling mean (MA terms / smoothing) ----------------------------------------
@query(
    "w11_rolling_mean",
    oracle=f"""
    WITH daily AS ({_DAILY_DEMAND_SQL})
    SELECT d,
           CAST(SUM(demand) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*)     OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS ma_7
    FROM daily
    """,
)
def w11_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean as exact decimal window sum / window count — the
    decimal sum is order-independent, so both engines emit the same
    double bit pattern."""
    daily = _daily_demand(spark, sf_dir)
    frame = Window.orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "d",
        (F.sum("demand").over(frame).cast("double") / F.count("*").over(frame)).alias(
            "ma_7"
        ),
    )


# --- W13: calendar-validity row drop (ETL.py:244-293) ---------------------------------
@query(
    "w13_calendar_validity",
    oracle="""
    WITH ymd AS (
      SELECT o_orderkey,
             EXTRACT(year FROM o_orderdate)  AS y,
             EXTRACT(month FROM o_orderdate) AS m,
             1 + o_orderkey % 31             AS dd
      FROM orders
    )
    SELECT o_orderkey,
           CAST(try_strptime(
             printf('%04d-%02d-%02d', CAST(y AS INT), CAST(m AS INT), CAST(dd AS INT)),
             '%Y-%m-%d') AS DATE) AS assembled
    FROM ymd
    WHERE try_strptime(
             printf('%04d-%02d-%02d', CAST(y AS INT), CAST(m AS INT), CAST(dd AS INT)),
             '%Y-%m-%d') IS NOT NULL
    """,
)
def w13_calendar_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference hand-rolls leap-year lists for 2016-2024
    (ETL.py:244-293).  Real calendar logic instead: assemble the date;
    invalid (Feb 30, Apr 31, non-leap Feb 29) parses to NULL and is
    dropped — SURVEY §7 risk-register item 7 says don't copy the quirk."""
    ymd = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        (1 + F.col("o_orderkey") % 31).alias("dd"),
    )
    assembled = F.to_date(
        F.expr(
            "try_to_timestamp(printf('%04d-%02d-%02d', y, m, dd), 'yyyy-MM-dd')"
        )
    )
    return (
        ymd.select("o_orderkey", assembled.alias("assembled"))
        .filter(F.col("assembled").isNotNull())
    )


# --- W14: date assembly & accessors (ETL.py:277-285; N:132,183-188) --------------------
@query(
    "w14_date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT)  AS y,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
           CAST(EXTRACT(day FROM o_orderdate) AS INT)   AS dd,
           make_date(CAST(EXTRACT(year FROM o_orderdate) AS INT),
                     CAST(EXTRACT(month FROM o_orderdate) AS INT), 1) AS month_start,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)
def w14_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("dd"),
        F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)).alias(
            "month_start"
        ),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


# --- W15: sentinel→null + thousands-separator strip (ETL.py:222; N:114,133) -------------
@query(
    "w15_sentinel_clean",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN user_id % 7 = 0 THEN -9999.0 ELSE value END AS v,
             CASE WHEN event_id >= 1000
                  THEN concat(CAST(event_id // 1000 AS VARCHAR), ',',
                              lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'))
                  ELSE CAST(event_id AS VARCHAR) END AS comma_str
      FROM events
    )
    SELECT event_id,
           CASE WHEN v = -9999.0 THEN NULL ELSE v END AS v_clean,
           CAST(replace(comma_str, ',', '') AS BIGINT) AS parsed_int
    FROM raw
    """,
)
def w15_sentinel_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-9999.0 sentinel → null (ETL.py:222) and comma-thousands strip +
    cast (normalization.ipynb:114), round-tripped from clean inputs so
    the fixture is self-contained."""
    raw = tbl(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 7 == 0, -9999.0).otherwise(F.col("value")).alias("v"),
        F.when(
            F.col("event_id") >= 1000,
            F.concat(
                (F.col("event_id") / 1000).cast("long").cast("string"),
                F.lit(","),
                F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
            ),
        )
        .otherwise(F.col("event_id").cast("string"))
        .alias("comma_str"),
    )
    return raw.select(
        "event_id",
        F.when(F.col("v") == -9999.0, None).otherwise(F.col("v")).alias("v_clean"),
        F.regexp_replace("comma_str", ",", "").cast("long").alias("parsed_int"),
    )


# --- W16: row union (ETL.py:69,86,178,240) ------------------------------------------------
@query(
    "w16_union",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'finished' AS src FROM orders WHERE o_orderstatus = 'F'
    """,
)
def w16_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice", F.lit("open").alias("src")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("finished").alias("src")
    )
    return a.union(b)


# --- W17: schema-aligning union (ETL.py:38-54) ---------------------------------------------
@query(
    "w17_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL BY NAME
    SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def w17_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference _check_columns (ETL.py:38-54) buckets ragged frames and
    pads missing columns with NaN — exactly
    ``unionByName(allowMissingColumns=True)``."""
    o = tbl(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderpriority")
    return a.unionByName(b, allowMissingColumns=True)


# --- W19: unit-conversion derived column (normalization.ipynb:70-74,134-137) -----------------
@query(
    "w19_unit_conversion",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity * 1760.0
             + l_extendedprice * (12.9 / 42.0)
             + l_tax * 2360.0
             + l_discount * 0.13 AS total_mwh
    FROM lineitem
    """,
)
def w19_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BTU→MWh-style constant-factor conversion (N:70-74): pure arithmetic
    column expressions, constant-folded by Catalyst."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_quantity") * 1760.0
            + F.col("l_extendedprice") * (12.9 / 42.0)
            + F.col("l_tax") * 2360.0
            + F.col("l_discount") * 0.13
        ).alias("total_mwh"),
    )


# --- W20: signed-error classification (evaluation.ipynb:238) ----------------------------------
@query(
    "w20_signed_class",
    oracle="""
    SELECT event_id,
           CASE WHEN value - 10.0 < 0 THEN 'red' ELSE 'blue' END AS sign_class
    FROM events
    """,
)
def w20_signed_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") - 10.0 < 0, "red").otherwise("blue").alias("sign_class"),
    )


# --- interval RANGE-frame rolling window ---------------------------------------
@query(
    "w_range_rolling_7d",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag,
             CAST(l_shipdate AS DATE) AS d,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS epoch_day,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT l_returnflag, d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
           CAST(SUM(qty) OVER w AS DOUBLE) AS rolling_qty
    FROM daily
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY epoch_day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def w_range_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-DAY rolling sum with a RANGE frame over the actual
    calendar distance — unlike a ROWS frame, missing days do not pull
    older rows into the window, which is the correct trailing-week
    semantics on gappy series.  The window partitions per series
    (returnflag) over the pre-aggregated daily table; the frame key is
    an integer epoch-day so both engines bound the range identically."""
    from pyspark.sql import Window

    li = tbl(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.to_date("l_shipdate").alias("d"),
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")).alias(
            "epoch_day"
        ),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "l_returnflag",
        "d",
        F.count("*").over(w).alias("n_days"),
        F.sum("qty").over(w).cast("double").alias("rolling_qty"),
    )


# --- W21 (extension): per-customer analytic-function suite --------------------------
@query(
    "w_analytic_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS custkey,
           CAST(lag(epoch_days) OVER w AS BIGINT) AS prev_epoch_days,
           CAST(epoch_days - lag(epoch_days) OVER w AS BIGINT)
             AS days_since_prev,
           CAST(first_value(cents) OVER w AS BIGINT) AS first_cents,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_days,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_days, o_orderkey)
    """,
)
def w_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function surface in one per-customer pass: lag
    (previous order date), gap-since-previous, first_value (first
    order size), percent_rank, and cume_dist over each customer's
    order history — the per-entity feature block a churn/LTV pipeline
    derives.  percent_rank and cume_dist are ratios of integers
    ((rank-1)/(n-1), n_le/n), so the doubles are bit-identical
    cross-engine; dates ride integer epoch days and money rides cents
    (the exact-decimal rule).

    Scale: ONE window partitioned by the high-cardinality customer key
    — millions of small partitions, no skew, no global sort; contrast
    with the bounded-calendar global windows elsewhere (the repo's
    two sanctioned window shapes)."""
    w = Window.partitionBy("o_custkey").orderBy("epoch_days", "o_orderkey")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("epoch_days"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return orders.select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("custkey"),
        F.lag("epoch_days").over(w).alias("prev_epoch_days"),
        (F.col("epoch_days") - F.lag("epoch_days").over(w)).alias(
            "days_since_prev"
        ),
        F.first("cents").over(w).alias("first_cents"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
