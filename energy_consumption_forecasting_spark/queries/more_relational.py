"""Additional relational/time-series coverage: more TPC-H-shaped
headliners, event sessionization, approximate aggregates, and the
M11/M15-M17 analysis-harness queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import single_task
from . import query
from ._util import shared_plan, tbl
from .ml_queries import (
    _daily,
    _daily_features,
    _lstm_fit_forecast,
    _lstm_sequences,
)


# --- TPC-H Q6 shape: selective scan-aggregate ---------------------------------
@query(
    "tpch_q6_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def tpch_q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-aggregate: every predicate reaches the parquet scan
    (PushedFilters), the aggregation is a one-group decimal sum."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --- TPC-H Q5 shape: multi-way join with dim chain ------------------------------
@query(
    "tpch_q5_local_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way join: the fact chain (orders⋈lineitem) shuffles on its
    keys once; customer/supplier/nation/region are broadcast dims."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = tbl(spark, sf_dir, "lineitem")
    supp = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (one - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --- gap-based sessionization over the event stream ------------------------------
@query(
    "w_sessionize",
    oracle="""
    WITH marked AS (
      -- epoch_us of the micro-truncated timestamp matches Spark's
      -- unix_micros exactly (the loader truncates nanos -> micros)
      SELECT event_id, user_id, ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                       > 30 * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT *,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts) AS DATE) AS session_date
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap sessionization (30-min inactivity): per-user windows
    → new-session flags → running sum as session id → per-session
    rollup.  Partitioned by user, so it scales with the user count."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.to_date(F.min("ts")).alias("session_date"),
    )


# --- approximate distinct (HLL) — engine-specific sketch → rows-only -------------
@query("a_approx_distinct")
def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the sketch is mergeable
    map-side, which is why it is THE count-distinct at 100 TB.  The
    estimate is engine-specific → rows-only check."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )


# --- M11: LSTM sequence dataset prep ----------------------------------------------
@query(
    "m11_lstm_dataset",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS demand
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT d,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                            AND CURRENT ROW) AS wlen,
             CAST(lead(demand) OVER (ORDER BY d) AS DOUBLE) AS y
      FROM daily
    )
    SELECT d, CAST(16 AS INT) AS x_len, y
    FROM win WHERE wlen = 8 AND y IS NOT NULL
    """,
)
def m11_lstm_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 sequence tensors for the LSTM (ml/lstm.py): length-8 windows
    over 2 features + next-step target; torch consumes the Arrow export.

    Oracle-checked since r4 (was rows-only): the daily demand rides a
    DECIMAL sum so the target column is exact, and the gate projects
    (d, x_len, y) — full-window count and next-step target — which the
    SQL window algebra reproduces bit-for-bit."""
    from ..ml.lstm import sequence_dataset

    daily = (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("demand"),
            F.count("*").alias("n_orders"),
        )
    )
    seq = sequence_dataset(daily, "d", ["demand", "n_orders"], "demand", seq_length=8)
    return seq.select("d", F.size("x").alias("x_len"), "y")


# --- M11 (trained): numpy-LSTM recursive forecast (rows-only) -----------------------
@query("m11_lstm_forecast")
def m11_lstm_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 end-to-end IN-CONTAINER (r1 left the trainer torch-gated):
    distributed W8 window prep → numpy LSTM (full BPTT + Adam,
    ml/lstm.py::NumpyLSTM) → recursive 7-step forecast, min-max scaled
    like the reference (LSTM.py:30-46).  ONE lazy plan since r9: the
    min/max scalars attach in-plan (1-row broadcast), and the
    calendar-bounded training set folds through a 1-partition
    mapInPandas that runs the identical trainer — zero construction
    jobs, the driver never holds a tensor.  Rows-only: gradient
    descent is solver-shaped."""
    seq_len = 14
    seq, mm = _lstm_sequences(spark, sf_dir, seq_len)
    packed = seq.crossJoin(F.broadcast(mm))

    def fold(pdf):
        import pandas as pd

        if not len(pdf):
            return None
        lo = float(pdf["lo"].iloc[0])
        hi = float(pdf["hi"].iloc[0])
        _, history, preds = _lstm_fit_forecast(pdf, seq_len, 7)
        out = [
            (i + 1, lo + (hi - lo) * p, float(history[0]), float(history[-1]))
            for i, p in enumerate(preds)
        ]
        return pd.DataFrame(
            out, columns=["step", "forecast", "mse_first", "mse_last"]
        )

    return single_task.run(
        packed,
        fold,
        "step int, forecast double, mse_first double, mse_last double",
    )


# --- M15-M17: the daily-series analysis kernels (rows-only) ---------------------------
# The daily series is bounded by the calendar, so each query scores it
# in one single_task.run task; each kernel orders the rows by ``d``.
_ABLATION_GROUPS = {"volume": ["n_orders"], "price": ["avg_price"]}
_SENSITIVITY_ORDERS = [1, 3, 7, 14]


def _permutation_importance(pdf):
    """The m15 kernel: how much the MAE of the global-ratio predictor
    (demand ≈ n_orders · Σdemand / Σn_orders) grows when one feature
    column is shuffled (ml/analysis.py::hashed_permutation over the
    rows ranked by ``d``), one row per feature."""
    import numpy as np
    import pandas as pd

    from ..ml.analysis import hashed_permutation

    if not len(pdf):
        return None
    pdf = pdf.sort_values("d")
    demand = pdf["demand"].to_numpy()
    feats = {c: pdf[c].to_numpy() for c in ("avg_price", "n_orders")}

    def score(f) -> float:
        ratio = demand.sum() / f["n_orders"].sum()
        return float(np.abs(f["n_orders"] * ratio - demand).mean())

    base = score(feats)
    return pd.DataFrame(
        [
            (c, score({**feats, c: hashed_permutation(v, c)}) - base)
            for c, v in feats.items()
        ],
        columns=["feature", "delta_mae"],
    )


def _ablation(pdf):
    """The m16 kernel: the blocked-CV AR(7) MAE of daily demand with
    each feature group's columns dropped, and with none dropped."""
    import pandas as pd

    from ..ml.analysis import blocked_cv_mae

    if not len(pdf):
        return None
    pdf = pdf.sort_values("d")
    frames = {"none": pdf} | {
        f"drop_{g}": pdf.drop(columns=cols) for g, cols in _ABLATION_GROUPS.items()
    }
    return pd.DataFrame(
        sorted(
            (cfg, blocked_cv_mae(f["demand"].to_numpy(), 7, 3))
            for cfg, f in frames.items()
        ),
        columns=["config", "cv_mae"],
    )


def _sensitivity(pdf):
    """The m17 kernel: the blocked-CV MAE of daily demand at each AR
    order of the grid, in grid order."""
    import pandas as pd

    from ..ml.analysis import blocked_cv_mae

    if not len(pdf):
        return None
    y = pdf.sort_values("d")["demand"].to_numpy()
    return pd.DataFrame(
        {
            "p": _SENSITIVITY_ORDERS,
            "cv_mae": [blocked_cv_mae(y, p, 3) for p in _SENSITIVITY_ORDERS],
        }
    )


@query("m15_permutation_importance")
def m15_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAP-style attribution via permutation importance: metric
    degradation when one feature column is shuffled.  The shuffle is a
    function of the date order, so the rows do not depend on the
    shuffle width or on AQE."""
    return single_task.run(
        _daily_features(spark, sf_dir),
        _permutation_importance,
        "feature string, delta_mae double",
    )


@query("m16_ablation")
def m16_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ablation over feature groups with the blocked-CV trailing-mean
    AR(7) MAE objective (V:14040-14072 shape)."""
    return single_task.run(
        _daily_features(spark, sf_dir), _ablation, "config string, cv_mae double"
    )


@query("m17_sensitivity")
def m17_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-CV MAE across the AR-order grid (the reference sweeps
    ±5 around the optimum; V:14136-14238)."""
    daily = _daily(spark, sf_dir).select(
        "d", F.col("demand").cast("double").alias("demand")
    )
    return single_task.run(daily, _sensitivity, "p int, cv_mae double")


# --- grouping sets: cube (free Spark capability, SURVEY §2.4 note) -------------
@query(
    "a_cube_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations
    in one pass — the free generalization of the reference's single-key
    aggregates."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


# --- deterministic top-k (head()/limit beyond display) ---------------------------
@query(
    "w_topk_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def w_topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with a deterministic tiebreak: Spark plans TakeOrderedAndProject
    (per-partition heaps + merge), never a full global sort."""
    return (
        tbl(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


# --- TPC-H Q10 shape: returned-item revenue by customer ---------------------------
@query(
    "tpch_q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    """,
)
def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = tbl(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (one - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --- range join: facts into containing value intervals ------------------------------
@query(
    "j_range_join",
    oracle="""
    WITH buckets AS (
      SELECT CAST(b AS BIGINT) AS bucket_id,
             b * 10000.0 AS lo, (b + 1) * 10000.0 - 0.01 AS hi
      FROM range(6) t(b)
    )
    SELECT o_orderkey, bucket_id, o_totalprice
    FROM orders JOIN buckets
      ON o_totalprice BETWEEN lo AND hi
    """,
)
def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (value BETWEEN lo AND hi) via the binned equi-join
    operator (operators/joins_ext.py) — the plan is an equi join on the
    bin key plus a residual bound check, never a nested loop."""
    from ..operators.joins_ext import range_join_binned

    buckets = spark.createDataFrame(
        [(b, b * 10000.0, (b + 1) * 10000.0 - 0.01) for b in range(6)],
        "bucket_id long, lo double, hi double",
    )
    orders = tbl(spark, sf_dir, "orders")
    return range_join_binned(
        orders, F.broadcast(buckets), "o_totalprice", "lo", "hi", bin_size=5000.0
    ).select("o_orderkey", "bucket_id", "o_totalprice")


# --- generic as-of join (union-merge) ------------------------------------------------
@query(
    "j_asof_generic",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    merged AS (
      SELECT e.event_id, e.user_id, e.ts,
             (SELECT p.value FROM purchases p
              WHERE p.user_id = e.user_id AND p.ts <= e.ts
              ORDER BY p.ts DESC LIMIT 1) AS last_purchase_value
      FROM events e
    )
    SELECT event_id, user_id, last_purchase_value FROM merged
    """,
)
def j_asof_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event gets the value of the user's most recent
    purchase at-or-before its timestamp.  Union-merge implementation —
    one (user, time) window pass, zero joins in the physical plan
    (operators/joins_ext.py; generalizes SURVEY J3/J4)."""
    from ..operators.joins_ext import asof_join

    ev = tbl(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    left = ev.select("event_id", "user_id", "ts")
    out = asof_join(left, purchases, ["user_id"], "ts", ["value"])
    return out.select(
        "event_id", "user_id", F.col("value_asof").alias("last_purchase_value")
    )


# --- argmax aggregation (max_by / arg_max) ------------------------------------------
@query(
    "a_argmax",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_name, c_acctbal) AS top_customer,
           MAX(c_acctbal) AS top_acctbal
    FROM customer
    GROUP BY 1
    """,
)
def a_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment argmax (the TPC-H Q2 min-cost-supplier pattern as a
    single aggregate instead of a self-join).  NB: ties on the max value
    would be engine-nondeterministic — acctbal maxima are unique here."""
    return (
        tbl(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.expr("max_by(c_name, c_acctbal)").alias("top_customer"),
            F.max("c_acctbal").alias("top_acctbal"),
        )
    )


# --- per-group exact percentile bands ------------------------------------------------
@query(
    "a_percentile_bands",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders
    GROUP BY 1
    """,
)
def a_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (F9's aggregate form).
    At 100 TB swap for approx_percentile and accept the epsilon; the
    exact form is the verification baseline."""
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
    )


# --- set operations: intersect / except (free capabilities) ---------------------------
@query(
    "set_intersect_except",
    oracle="""
    SELECT 'both' AS src, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'only_f' AS src, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over customer key sets (capabilities beyond the
    reference's union-only surface; SURVEY §2.5 note)."""
    o = tbl(spark, sf_dir, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_keys.intersect(o_keys).select(F.lit("both").alias("src"), "o_custkey")
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll is the
    # multiset variant and would keep keys that appear in both sides
    # with different multiplicities.
    only_f = f_keys.subtract(o_keys).select(F.lit("only_f").alias("src"), "o_custkey")
    return both.union(only_f)


# --- TPC-H Q4 shape: EXISTS semi-join + priority counts -----------------------
@query(
    "tpch_q4_late_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's shape on this schema (no commitdate column: 'late' = any
    line shipped >60 days after ordering).  The EXISTS becomes a
    LEFT SEMI join — dedup-free, and the date predicate stays in the
    join condition so Spark plans one shuffle-hash semi join."""
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --- TPC-H Q14 shape: conditional-aggregate ratio -----------------------------
@query(
    "tpch_q14_promo_share",
    oracle="""
    WITH r AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS rev,
             p_type
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-12-01 00:00:00'
    )
    SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE))
           / CAST(SUM(rev) AS DOUBLE) AS promo_revenue
    FROM r
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share: broadcast part join, conditional decimal
    sums (exact on both engines), one double division at the end."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-12-01 00:00:00").cast("timestamp"))
    )
    part = tbl(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(rev.alias("rev"), "p_type")
    agg = joined.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        .cast("double")
        .alias("promo"),
        F.sum("rev").cast("double").alias("total"),
    )
    return agg.select(
        ((100.0 * F.col("promo")) / F.col("total")).alias("promo_revenue")
    )


# --- TPC-H Q18 shape: HAVING over a big aggregation ---------------------------
@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE)
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: aggregate lineitem FIRST (the big table
    shrinks before any join), filter the HAVING early, then join the
    dimension chain — vs the literal SQL shape that joins everything
    and aggregates last.  Same result, one order of magnitude less
    join input at scale."""
    li = tbl(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 150)
    )
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("odate")
    )
    cust = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "odate",
            F.col("q").cast("double").alias("total_qty"),
        )
    )


# --- TPC-H Q19 shape: disjunctive multi-predicate join ------------------------
@query(
    "tpch_q19_bracket_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive bracket predicates over a part join.  The l_quantity
    envelope (1..30) is pre-filtered BEFORE the join — Catalyst can't
    extract it from the OR across tables, but it is implied by the
    disjunction, so pushing it manually prunes the scan."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    part = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return j.filter(bracket).agg(F.sum(rev).cast("double").alias("revenue"))


# --- SQL UDF + parameterized SQL (Spark 4 declarative function surface) ---------------
@query(
    "f_sql_udf_params",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def f_sql_udf_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's DECLARATIVE function surface: a SQL UDF (CREATE
    FUNCTION ... RETURN expr) — which Catalyst inlines into the plan,
    so unlike Python UDFs it costs nothing and survives
    pushdown/codegen — plus a named-parameter ``spark.sql(...,
    args=...)`` binding for the filter literal (injection-safe
    parameterization, the production alternative to f-string SQL)."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(FLOOR(x / 20000) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM v_orders_sqludf
        WHERE o_orderstatus = :st
        GROUP BY band
        """,
        args={"st": "F"},
    )


# --- SQL scripting: loop-carried iterative trim (Spark 4 BEGIN..END) ------------------
@query(
    "f_sql_scripting_trim",
    oracle="""
    WITH m0 AS (
      SELECT 2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS th
      FROM orders
    ),
    m1 AS (
      SELECT 2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS th
      FROM orders, m0 WHERE o_totalprice < m0.th
    ),
    m2 AS (
      SELECT 2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS th
      FROM orders, m1 WHERE o_totalprice < m1.th
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           m2.th AS final_thresh
    FROM orders, m2 WHERE o_totalprice < m2.th
    GROUP BY m2.th
    """,
)
def f_sql_scripting_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN..END / DECLARE / WHILE): an
    iterative outlier trim whose threshold is loop-carried — each pass
    recomputes 2x the mean of the rows under the previous threshold.
    Control flow runs on the driver, every statement in the loop is a
    full distributed query; the oracle unrolls the 3 iterations as a
    CTE chain.  Exact-decimal means keep the float threshold
    bit-identical across engines."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_script")
    return spark.sql(
        """
        BEGIN
          DECLARE th DOUBLE;
          DECLARE i INT DEFAULT 0;
          SET th = (SELECT 2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                 AS DOUBLE) / COUNT(*)
                    FROM v_orders_script);
          WHILE i < 2 DO
            SET th = (SELECT 2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                   AS DOUBLE) / COUNT(*)
                      FROM v_orders_script WHERE o_totalprice < th);
            SET i = i + 1;
          END WHILE;
          SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total,
                 th AS final_thresh
          FROM v_orders_script WHERE o_totalprice < th;
        END
        """
    )


@query(
    "a_approx_distinct_eval",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_rsd_ok
    FROM lineitem GROUP BY 1
    """,
)
def a_approx_distinct_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the HLL sketch (rows-only a_approx_distinct): the exact
    per-group distinct count is SQL truth, and the engine's
    approx_count_distinct(rsd=0.02) estimate must land within 3×rsd of
    it (a 6% band ≈ 3 standard errors — a broken sketch misses by far
    more, correct HLL++ essentially never does).  The hash pins the
    exact counts AND the bound per group."""
    out = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )
    return out.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 3 * 0.02 * F.col("exact_parts")
        ).alias("within_rsd_ok"),
    )


@query(
    "a_approx_percentile_eval",
    oracle="""
    WITH q AS (
      SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p
    )
    SELECT CAST(p AS DOUBLE) AS p,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
           TRUE AS rank_error_ok
    FROM q
    """,
)
def a_approx_percentile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE Spark's approximate-percentile sketch (the scale path F9
    names for 100 TB) against its published guarantee: for each probe
    quantile p, the EXACT rank of the approx answer must lie within
    accuracy*n of p*n (Greenwald–Khanna bound at the default accuracy
    1/10000).  The approx value itself is partitioning-dependent, so
    only the boolean verdict and SQL-pinned corpus stats are emitted —
    same discipline as the HLL gate (a_approx_distinct_eval).  The
    rank recompute is one distributed filter-count per probe, never a
    sort."""
    ps = [0.25, 0.5, 0.75, 0.95]
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    # ONE lazy plan (r9 purity root-cause — was 3 driver actions +
    # createDataFrame): the 1-row sketch aggregate is scalar-attached
    # back onto the scan by broadcast (the sanctioned 1-row crossJoin
    # idiom), the 2×|ps| exact ranks fold into ONE conditional
    # aggregate, and the per-probe verdict rows come from a literal
    # posexplode — no collect anywhere.
    sketch = li.agg(
        F.percentile_approx("x", ps).alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    aggs = [F.first("n").alias("n")]
    for i in range(len(ps)):
        q_i = F.element_at("qs", i + 1)
        aggs.append(
            F.sum(F.when(F.col("x") <= q_i, 1).otherwise(0)).alias(f"le_{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("x") < q_i, 1).otherwise(0)).alias(f"lt_{i}")
        )
    ranks = li.crossJoin(F.broadcast(sketch)).agg(*aggs)
    le_arr = F.array(*[F.col(f"le_{i}") for i in range(len(ps))])
    lt_arr = F.array(*[F.col(f"lt_{i}") for i in range(len(ps))])
    probes = ranks.select(
        "n",
        F.posexplode(F.array(*[F.lit(float(p)) for p in ps])).alias("i", "p"),
        le_arr.alias("les"),
        lt_arr.alias("lts"),
    )
    # default accuracy: relative rank error 1/10000; one extra row of
    # slack for ties/boundary rounding.  The sketch answer is correct
    # if SOME rank in [rank_lt+1, rank_le] (the positions the value
    # occupies) is within eps of the target rank.
    eps = F.col("n") / 10000.0 + 1
    target = F.col("p") * F.col("n")
    rank_le = F.element_at("les", F.col("i") + 1)
    rank_lt = F.element_at("lts", F.col("i") + 1)
    ok = ((rank_lt + 1) - eps <= target) & (target <= rank_le + eps)
    return probes.select(
        F.col("p").cast("double").alias("p"),
        F.col("n").alias("n_rows"),
        ok.alias("rank_error_ok"),
    )


@query(
    "f_try_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE)
             / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0) AS price_per_mod,
           TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
           CASE WHEN o_orderkey % 3 = 0
                THEN NULL
                ELSE CAST(o_orderkey AS VARCHAR) END AS maybe_key
    FROM orders
    WHERE o_orderkey <= 1000
    """,
)
def f_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe TRY_* scalar surface: try_divide (NULL on /0,
    ≡ NULLIF-division), try_cast on a non-numeric status string (NULL,
    never an error — the ingest posture for dirty columns), try_cast of
    the numeric priority prefix (succeeds), and a NULL-branching CASE —
    the error-free arithmetic contract a 100-TB pipeline needs so one
    dirty row cannot kill a stage.  DuckDB mirrors with TRY_CAST/NULLIF."""
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.expr(
            "try_divide(CAST(o_totalprice AS DOUBLE),"
            " CAST(o_orderkey % 3 AS DOUBLE))"
        ).alias("price_per_mod"),
        F.expr("try_cast(o_orderstatus AS BIGINT)").alias("status_num"),
        F.expr(
            "try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"
        ).alias("prio_num"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string")
        )
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("maybe_key"),
    )


# --- Spark 4 SQL pipe syntax ---------------------------------------------------------
@query(
    "f_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def f_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SPARK-49555 — the `|>` operator
    chain from the Google 'Pipe Syntax in SQL' paper): the same
    filter→aggregate shape expressed as sequential pipe stages.  The
    parser lowers pipes to the identical logical plan as nested SQL,
    so pushdown/codegen are unchanged — the gate proves the surface
    works end-to-end against a standard-SQL oracle (DuckDB has no pipe
    dialect; the oracle is the classical form, which is the point:
    same semantics, different syntax)."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_pipe")
    return spark.sql(
        """
        FROM v_orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)) AS BIGINT) AS revenue_c
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, revenue_c
        """
    )


# --- re-aggregatable HLL sketches (DataSketches surface) -------------------------------
@query(
    "sketch_hll_union",
    oracle="""
    SELECT CAST(EXTRACT(month FROM ts) AS INT) AS mo,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY 1
    """,
)
def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting — the 100 TB dashboard
    pattern: build a DataSketches HLL sketch PER DAY
    (``hll_sketch_agg``, Spark 3.5+/4 binary sketch surface), then
    roll days into months by ``hll_union_agg`` WITHOUT rescanning the
    facts — the property ``approx_count_distinct`` lacks (its estimate
    can't be re-aggregated across groups).  The gate emits the exact
    monthly distinct (oracle-checked) plus a boolean asserting the
    unioned sketch estimate lands within 5% — the sketch VALUE itself
    is implementation-defined, so only the verdict is hashed (the
    a_approx_percentile_eval convention for sketch gates).

    HLL register merges are max-based — order- and duplicate-
    insensitive — so the daily→monthly union is exactly the shuffle-
    free incremental rollup a snapshotted metrics store performs."""
    ev = tbl(spark, sf_dir, "events").select(
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dy"),
        "user_id",
    )
    daily = ev.groupBy("mo", "dy").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    monthly = daily.groupBy("mo").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("mo").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(monthly, "mo").select(
        "mo",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) * 20
            <= F.col("exact_users")
        ).alias("within_5pct"),
    )


# --- URL parsing surface -----------------------------------------------------------------
@query(
    "f_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2' AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           CASE WHEN url LIKE 'https://%' THEN 'https' END AS protocol
    FROM u
    """,
)
def f_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — the crawl-pipeline scalar surface (domain
    filtering, per-host caps, UTM scrubbing all start here).  Spark's
    native ``parse_url`` (HOST/PATH/QUERY with a key) runs JVM-side in
    codegen; DuckDB has no parse_url, so the oracle decomposes the
    identical deterministic URLs with anchored regexes — same
    semantics, two implementations, hash-checked.

    URLs are synthesized deterministically from (source, doc_id, lang)
    — the gate tests the FUNCTION surface, not a URL column the
    testdata lacks."""
    u = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
            F.lit("&v=2"),
        ).alias("url"),
    )
    return u.select(
        "doc_id",
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY', 'lang')").alias("lang_param"),
        F.expr("parse_url(url, 'PROTOCOL')").alias("protocol"),
    )


# --- price indices (Laspeyres / Paasche) --------------------------------------------
@query(
    "a_price_index",
    oracle="""
    WITH pp AS (
      SELECT l.l_partkey AS part,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS ext_c,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE EXTRACT(year FROM o.o_orderdate) IN (1998, 1999)
      GROUP BY 1, 2
    ),
    paired AS (
      SELECT b.part,
             (10000 * CAST(b.ext_c AS HUGEINT)) // b.qty AS p0_q4,
             (10000 * CAST(c.ext_c AS HUGEINT)) // c.qty AS p1_q4,
             CAST(b.qty AS HUGEINT) AS q0, CAST(c.qty AS HUGEINT) AS q1
      FROM pp b JOIN pp c ON c.part = b.part AND b.yr = 1998 AND c.yr = 1999
      WHERE b.qty > 0 AND c.qty > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST((1000000 * SUM(p1_q4 * q0)) // SUM(p0_q4 * q0) AS BIGINT)
             AS laspeyres_ppm,
           CAST((1000000 * SUM(p1_q4 * q1)) // SUM(p0_q4 * q1) AS BIGINT)
             AS paasche_ppm
    FROM paired
    """,
)
def a_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indices 1998→1999 over the parts
    traded in BOTH periods — the econ-analytics primitive behind every
    energy/CPI price report (Laspeyres weights by base-period
    quantities, Paasche by current; their gap brackets substitution
    bias).

    Unit prices quantize to exact q4 cents-per-unit (one truncating
    division per part-period — the documented quantization), then both
    indices are single truncating ppm divisions over exact
    HUGEINT/DECIMAL(38) weighted sums.  Plan: one part×year agg, one
    part-keyed self-join (part-cardinality frames), one scalar row."""
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1998, 1999))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
            )
            .cast("long")
            .alias("ext_c"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
        .transform(shared_plan)  # both sides of the year self-join
    )
    d38 = "decimal(38,0)"
    b = pp.filter((F.col("yr") == 1998) & (F.col("qty") > 0)).select(
        "part",
        F.expr("(10000 * CAST(ext_c AS DECIMAL(38,0))) div qty").alias("p0_q4"),
        F.col("qty").cast(d38).alias("q0"),
    )
    c = pp.filter((F.col("yr") == 1999) & (F.col("qty") > 0)).select(
        F.col("part").alias("cpart"),
        F.expr("(10000 * CAST(ext_c AS DECIMAL(38,0))) div qty").alias("p1_q4"),
        F.col("qty").cast(d38).alias("q1"),
    )
    paired = b.join(c, F.col("cpart") == F.col("part"))
    return paired.agg(
        F.count("*").alias("n_parts"),
        F.expr(
            "CAST((1000000 * SUM(p1_q4 * q0)) div SUM(p0_q4 * q0) AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            "CAST((1000000 * SUM(p1_q4 * q1)) div SUM(p0_q4 * q1) AS BIGINT)"
        ).alias("paasche_ppm"),
    )


# --- revenue bridge (price / volume / mix decomposition) ---------------------------------
@query(
    "a_revenue_bridge",
    oracle="""
    WITH pp AS (
      SELECT l.l_partkey AS part,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS ext_c,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE EXTRACT(year FROM o.o_orderdate) IN (1998, 1999)
      GROUP BY 1, 2
    ),
    j AS (
      SELECT COALESCE(b.part, c.part) AS part,
             COALESCE((10000 * CAST(b.ext_c AS HUGEINT)) // b.qty, 0) AS p0,
             COALESCE((10000 * CAST(c.ext_c AS HUGEINT)) // c.qty, 0) AS p1,
             COALESCE(CAST(b.qty AS HUGEINT), 0) AS q0,
             COALESCE(CAST(c.qty AS HUGEINT), 0) AS q1,
             (b.part IS NULL) AS is_new, (c.part IS NULL) AS is_lost
      FROM (SELECT * FROM pp WHERE yr = 1998 AND qty > 0) b
      FULL OUTER JOIN (SELECT * FROM pp WHERE yr = 1999 AND qty > 0) c
        ON c.part = b.part
    )
    SELECT CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost
                    THEN (p1 - p0) * q0 ELSE 0 END) // 10000 AS BIGINT)
             AS price_effect_c,
           CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost
                    THEN p0 * (q1 - q0) ELSE 0 END) // 10000 AS BIGINT)
             AS volume_effect_c,
           CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost
                    THEN (p1 - p0) * (q1 - q0) ELSE 0 END) // 10000
             AS BIGINT) AS mix_effect_c,
           CAST(SUM(CASE WHEN is_new THEN p1 * q1 ELSE 0 END) // 10000
             AS BIGINT) AS new_parts_c,
           CAST(-SUM(CASE WHEN is_lost THEN p0 * q0 ELSE 0 END) // 10000
             AS BIGINT) AS lost_parts_c,
           CAST(SUM((NOT is_new AND NOT is_lost)::INT) AS BIGINT)
             AS n_continuing,
           CAST(SUM(is_new::INT) AS BIGINT) AS n_new,
           CAST(SUM(is_lost::INT) AS BIGINT) AS n_lost
    FROM j
    """,
)
def a_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge 1998→1999 — the CFO waterfall decomposing the
    year-over-year change into PRICE effect (Δp·q0), VOLUME effect
    (p0·Δq), MIX/cross (Δp·Δq), plus NEW and DISCONTINUED parts — the
    finance-analytics shape next to the price indices
    (a_price_index), sharing their q4 unit-price quantization so the
    two reports reconcile.

    One part×year agg, one part-keyed FULL OUTER self-join (the
    new/lost classification IS the outer join's null pattern), one
    scalar row; every effect is exact q4 integer algebra emitted in
    truncating cents."""
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1998, 1999))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
            )
            .cast("long")
            .alias("ext_c"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
        .transform(shared_plan)
    )
    d38 = "decimal(38,0)"
    price = F.expr("(10000 * CAST(ext_c AS DECIMAL(38,0))) div qty")
    b = pp.filter((F.col("yr") == 1998) & (F.col("qty") > 0)).select(
        F.col("part").alias("bpart"),
        price.alias("bp"),
        F.col("qty").cast(d38).alias("bq"),
    )
    c = pp.filter((F.col("yr") == 1999) & (F.col("qty") > 0)).select(
        F.col("part").alias("cpart"),
        price.alias("cp"),
        F.col("qty").cast(d38).alias("cq"),
    )
    j = b.join(c, F.col("cpart") == F.col("bpart"), "full_outer").select(
        F.coalesce(F.col("bp"), F.lit(0).cast(d38)).alias("p0"),
        F.coalesce(F.col("cp"), F.lit(0).cast(d38)).alias("p1"),
        F.coalesce(F.col("bq"), F.lit(0).cast(d38)).alias("q0"),
        F.coalesce(F.col("cq"), F.lit(0).cast(d38)).alias("q1"),
        F.col("bpart").isNull().alias("is_new"),
        F.col("cpart").isNull().alias("is_lost"),
    )
    cont = ~F.col("is_new") & ~F.col("is_lost")
    return j.agg(
        F.expr(
            "CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost"
            " THEN (p1 - p0) * q0 ELSE CAST(0 AS DECIMAL(38,0)) END)"
            " div 10000 AS BIGINT)"
        ).alias("price_effect_c"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost"
            " THEN p0 * (q1 - q0) ELSE CAST(0 AS DECIMAL(38,0)) END)"
            " div 10000 AS BIGINT)"
        ).alias("volume_effect_c"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT is_new AND NOT is_lost"
            " THEN (p1 - p0) * (q1 - q0) ELSE CAST(0 AS DECIMAL(38,0)) END)"
            " div 10000 AS BIGINT)"
        ).alias("mix_effect_c"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN p1 * q1"
            " ELSE CAST(0 AS DECIMAL(38,0)) END) div 10000 AS BIGINT)"
        ).alias("new_parts_c"),
        F.expr(
            "CAST(-SUM(CASE WHEN is_lost THEN p0 * q0"
            " ELSE CAST(0 AS DECIMAL(38,0)) END) div 10000 AS BIGINT)"
        ).alias("lost_parts_c"),
        F.sum(cont.cast("int")).cast("long").alias("n_continuing"),
        F.sum(F.col("is_new").cast("int")).cast("long").alias("n_new"),
        F.sum(F.col("is_lost").cast("int")).cast("long").alias("n_lost"),
    )
