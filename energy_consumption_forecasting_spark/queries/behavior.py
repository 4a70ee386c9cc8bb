"""Event-behavior analytics: multi-stage funnel conversion over the
event stream, and a Count-Min-Sketch heavy-hitter estimate over the
document token stream.

Both follow the registry's exactness discipline: every emitted number
is an integer (counts, microsecond deltas) or a deterministic cast of
one, so the DuckDB oracle hash-matches bit-for-bit.

* Funnel (view -> click -> purchase): the classic product-analytics
  query.  Each stage is a conditional ``min(ts)`` bounded below by the
  previous stage's timestamp — expressed as filter + equi-join on
  ``user_id`` + groupBy-min, never a window over the whole event table,
  so the plan shuffles on the user key only (events partition cleanly
  by user at any scale).
* CMS heavy hitters: 4 salted md5 rows x 256 buckets.  The sketch is
  the standard streaming frequency summary (Cormode & Muthukrishnan,
  J.Algorithms 2005); here each row is ONE groupBy over the exploded
  token stream (map-side combinable, 256-row result), and the estimate
  for a probe token is the min over its 4 bucket counts — overestimate
  == collision mass, never under.  Bucket keys stay hex *strings*
  (first two md5 chars), sidestepping any cross-engine int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ._util import shared_plan, tbl

_STAGES = ("view", "click", "purchase")

_CMS_SALTS = ("s0", "s1", "s2", "s3")
_CMS_TOPK = 10


# --- funnel: view -> click -> purchase ------------------------------------------
@query(
    "w_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(v.v_ts AS DATE) AS first_view_date,
           CAST(1 + (c.user_id IS NOT NULL)::INT
                  + (p.user_id IS NOT NULL)::INT AS INT) AS funnel_stage,
           CAST(epoch_us(CAST(p.p_ts AS TIMESTAMP))
                - epoch_us(CAST(v.v_ts AS TIMESTAMP)) AS BIGINT)
               AS view_to_purchase_us
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def w_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel depth: first view, first click at-or-after that
    view, first purchase at-or-after that click; stage reached (1-3)
    and exact view->purchase latency in microseconds.

    Each stage narrows before it shuffles: the event table is filtered
    to one event type, then equi-joined to the (already tiny) previous
    stage frame on ``user_id`` and min-aggregated.  Nothing here is a
    global window; at 100 TB the three stage frames are user-cardinality
    tables and every shuffle is on the natural user key.  Latency stays
    an exact BIGINT of microseconds (the loader truncates the parquet
    nanos to micros identically on both engines)."""
    ev = tbl(spark, sf_dir, "events")

    def stage(evt: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == evt)
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") >= F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = stage("click", v, "v_ts", "c_ts")
    p = stage("purchase", c.select("user_id", "c_ts"), "c_ts", "p_ts")
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.to_date("v_ts").alias("first_view_date"),
            (
                F.lit(1)
                + F.col("c_ts").isNotNull().cast("int")
                + F.col("p_ts").isNotNull().cast("int")
            ).alias("funnel_stage"),
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias(
                "view_to_purchase_us"
            ),
        )
    )


# --- Count-Min-Sketch heavy hitters over the token stream -----------------------
_CMS_SALT_SQL = "', '".join(_CMS_SALTS)


_CMS_ORACLE = f"""
    WITH occ AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    truec AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM occ GROUP BY w
    ),
    top AS (
      SELECT w, true_cnt FROM truec
      ORDER BY true_cnt DESC, w LIMIT {_CMS_TOPK}
    ),
    salts AS (SELECT unnest(['{_CMS_SALT_SQL}']) AS salt),
    cms AS (
      SELECT salt, substr(md5(salt || ':' || w), 1, 2) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS bucket_cnt
      FROM occ CROSS JOIN salts
      GROUP BY salt, substr(md5(salt || ':' || w), 1, 2)
    ),
    est AS (
      SELECT t.w, t.true_cnt, MIN(c.bucket_cnt) AS cms_est
      FROM top t CROSS JOIN salts s
      JOIN cms c ON c.salt = s.salt
                AND c.bucket = substr(md5(s.salt || ':' || t.w), 1, 2)
      GROUP BY t.w, t.true_cnt
    )
    SELECT w, true_cnt, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - true_cnt AS BIGINT) AS overcount
    FROM est
    """


@query("sketch_cms_heavyhitters", oracle=_CMS_ORACLE)
def sketch_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the corpus's true
    top-{_CMS_TOPK} tokens: 4 salted hash rows x 256 buckets, estimate
    = min over rows, compared against the exact count.

    The sketch build is ONE map-side-combinable groupBy over the
    (token-occurrence x 4 salts) stream producing <=1024 rows — the
    whole point of a CMS at 100 TB: the shuffle payload collapses to
    the sketch size, not the token-cardinality.  Probing broadcasts
    the 1024-row sketch against the top-k list.  Bucket ids are the
    first two md5 hex chars of ``salt:token`` — engine-portable string
    keys, no integer-hash conversion anywhere."""
    occ = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("w"))
    )
    # ONE corpus pass (r10, guide §2.3): the exact count table is the
    # sufficient statistic for BOTH outputs — the sketch over the
    # occurrence stream is identical to summing true_cnt per bucket
    # over the vocabulary (count of occurrences per bucket ≡ sum of
    # per-word counts), so the 4-salt md5 runs once per DISTINCT word,
    # not once per token occurrence, and the second tokenize+explode
    # corpus scan disappears.  shared_plan: top-k and the sketch both
    # read the vocabulary-sized frame.
    truec = (
        occ.groupBy("w")
        .agg(F.count("*").alias("true_cnt"))
        .transform(shared_plan, width=8)
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge of k-sized heaps) — no single-partition
    # window anywhere near the vocabulary table.
    top = truec.orderBy(F.desc("true_cnt"), "w").limit(_CMS_TOPK)
    salts = F.explode(F.array(*[F.lit(s) for s in _CMS_SALTS])).alias("salt")

    def bucket(salt_col, w_col):
        return F.substring(F.md5(F.concat(salt_col, F.lit(":"), w_col)), 1, 2)

    cms = (
        truec.select("w", "true_cnt", salts)
        .groupBy("salt", bucket(F.col("salt"), F.col("w")).alias("bucket"))
        .agg(F.sum("true_cnt").alias("bucket_cnt"))
    )
    probes = top.select("w", "true_cnt", salts).withColumn(
        "bucket", bucket(F.col("salt"), F.col("w"))
    )
    est = (
        probes.join(F.broadcast(cms), ["salt", "bucket"])
        .groupBy("w", "true_cnt")
        .agg(F.min("bucket_cnt").alias("cms_est"))
    )
    return est.select(
        "w",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
    )


# --- weekly cohort retention --------------------------------------------------------
@query(
    "w_cohort_retention",
    oracle="""
    WITH firstseen AS (
      SELECT user_id,
             MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) AS ed0
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed
      FROM events
    )
    SELECT CAST(f.ed0 // 7 AS BIGINT) AS cohort_week,
           CAST(a.ed // 7 - f.ed0 // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN firstseen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def w_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, then
    distinct-user counts per (cohort, weeks-since-cohort) cell — the
    retention-triangle table of every product-analytics stack.  Weeks
    are epoch-day div 7 (engine-portable integer arithmetic; calendar
    week-truncation differs between engines' week-start conventions).

    Plan: one user-keyed aggregate for first-seen (map-side
    combinable), one distinct on (user, day) — both shuffle the
    user-id key only; the cohort join broadcasts nothing corpus-sized
    (firstseen is user-cardinality, co-keyed with active, so AQE picks
    a co-partitioned join).  At 100 TB both shuffles carry 16-byte
    rows and the output is weeks² cells."""
    ev = tbl(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("ed"),
    )
    firstseen = ev.groupBy("user_id").agg(F.min("ed").alias("ed0"))
    active = ev.distinct()
    return (
        active.join(firstseen, "user_id")
        .groupBy(
            F.expr("ed0 div 7").cast("long").alias("cohort_week"),
            F.expr("ed div 7 - ed0 div 7").cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --- RFM customer segmentation ------------------------------------------------------
@query(
    "w_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                  AS BIGINT) AS last_ed,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), g AS (SELECT MAX(last_ed) AS maxd FROM cust)
    SELECT custkey,
           CAST(ntile(5) OVER (ORDER BY maxd - last_ed, custkey) AS INT)
             AS r_ntile,
           CAST(ntile(5) OVER (ORDER BY freq, custkey) AS INT) AS f_ntile,
           CAST(ntile(5) OVER (ORDER BY cents, custkey) AS INT) AS m_ntile
    FROM cust CROSS JOIN g
    """,
)
def w_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    vs the corpus max date), frequency, monetary cents — each scored
    into exact global quintiles.  The CRM/LTV segmentation every
    commerce stack derives, and a deliberate stress of the ranking
    primitive: THREE exact global ntiles in one query, each riding
    ``global_row_number_lazy`` (monotone value-derived buckets, no
    count action, no single-partition window) with the shared
    ``ntile_expr`` integer algebra — tie-breaks on custkey keep both
    engines' ntile deterministic.

    Scale: per-customer aggregate shuffles the customer key once; each
    quintile pass is a bucket-keyed rank over the CUSTOMER table
    (dimension-sized); the global max date is a 1-row broadcast."""
    from ..operators.ranking import global_row_number_lazy, ntile_expr

    cust = (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(
                F.datediff(
                    F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
                ).cast("long")
            ).alias("last_ed"),
            F.count("*").alias("freq"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
    )
    maxd = cust.agg(F.max("last_ed").alias("maxd"))
    cust = cust.join(F.broadcast(maxd)).withColumn(
        "recency", F.col("maxd") - F.col("last_ed")
    )

    def quintile(df, metric, out):
        ranked = global_row_number_lazy(
            df,
            [metric, "custkey"],
            bucket=F.expr(f"{metric} div 16"),
            rn_col="__rn",
            total_col="__n",
        )
        return ranked.withColumn(
            out, ntile_expr("__rn", "__n", 5).cast("int")
        ).drop("__rn", "__n")

    scored = quintile(cust, "recency", "r_ntile")
    scored = quintile(scored, "freq", "f_ntile")
    scored = quintile(scored, "cents", "m_ntile")
    return scored.select("custkey", "r_ntile", "f_ntile", "m_ntile")


# --- Markov transition matrix over user event sequences -----------------------------
@query(
    "w_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, event_type AS next, COUNT(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev AS prev_type, next AS next_type,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
    FROM t
    """,
)
def w_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (prev_type, next_type) pair, the count of consecutive occurrences
    within a user's timeline and the row-normalized transition
    probability.  The lag window partitions by ``user_id`` (events
    shard cleanly by user at any scale — no global window), the
    transition agg is a map-side-combinable groupBy to a
    |types|²-sized result, and the normalizing row-sum runs over that
    tiny matrix.  Ordering ties broken by the unique ``event_id`` so
    both engines see the identical sequence; p is one IEEE division of
    exact ints."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        tbl(spark, sf_dir, "events")
        .select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    row = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(row).cast("double")).alias(
            "p"
        ),
    )


# --- top event trigram paths ---------------------------------------------------------
@query(
    "w_event_trigrams",
    oracle="""
    WITH seq AS (
      SELECT event_type AS c,
             lag(event_type, 1) OVER w AS b,
             lag(event_type, 2) OVER w AS a
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT a, b, c, COUNT(*) AS n FROM seq
      WHERE a IS NOT NULL GROUP BY 1, 2, 3
    )
    SELECT a, b, c, CAST(n AS BIGINT) AS n
    FROM t
    ORDER BY n DESC, a, b, c
    LIMIT 20
    """,
)
def w_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common consecutive 3-event paths across user
    timelines — the order-2 sequence-pattern complement to the Markov
    matrix.  Two lags in ONE window pass (same user partitioning, no
    extra shuffle), a |types|³-bounded agg, and a deterministic
    (n DESC, path ASC) tie-broken top-k that both engines order
    identically."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trig = (
        tbl(spark, sf_dir, "events")
        .select(
            F.lag("event_type", 2).over(w).alias("a"),
            F.lag("event_type", 1).over(w).alias("b"),
            F.col("event_type").alias("c"),
        )
        .filter(F.col("a").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("n"))
    )
    return trig.orderBy(
        F.desc("n"), F.asc("a"), F.asc("b"), F.asc("c")
    ).limit(20)


# --- Kaplan-Meier survival: first view -> first purchase ----------------------------
_LIFE_TABLE_SQL = """v AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS te
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= v.t0
      GROUP BY e.user_id
    ),
    horizon AS (SELECT MAX(ts) AS tmax FROM events),
    durations AS (
      SELECT v.user_id,
             CAST(date_diff('day', v.t0,
                            COALESCE(p.te, horizon.tmax)) AS BIGINT) AS d,
             CASE WHEN p.te IS NULL THEN 0 ELSE 1 END AS ev
      FROM v LEFT JOIN p USING (user_id) CROSS JOIN horizon
    ),
    tbl AS (
      SELECT d,
             CAST(SUM(ev) AS BIGINT) AS events,
             CAST(COUNT(*) AS BIGINT) AS leaving,
             CAST(SUM(COUNT(*)) OVER (ORDER BY d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS at_risk
      FROM durations GROUP BY d
    )"""


def _life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark half of ``_LIFE_TABLE_SQL``: the day-keyed life table
    (d, events, leaving, at_risk) of first-view -> first-purchase
    durations, right-censored at the horizon.  Shared by
    w_kaplan_meier AND w_nelson_aalen so the risk-set definition
    cannot drift between the two estimators."""
    ev = tbl(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("te"))
    )
    horizon = ev.agg(F.max("ts").alias("tmax"))
    durations = (
        v.join(p, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(
                F.to_date(F.coalesce("te", "tmax")), F.to_date("t0")
            )
            .cast("long")
            .alias("d"),
            F.when(F.col("te").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    return life_table_from_durations(durations)


def life_table_from_durations(durations: DataFrame) -> DataFrame:
    """(d, events, leaving, at_risk) from raw (d, ev) duration rows —
    the estimator-independent life-table core: day-keyed aggregation
    plus the descending running count for the risk set.  Factored out
    so the Freireich-1963 external-golden test
    (tests/test_ml_extras.py) drives the IDENTICAL algebra the
    operators run, not a re-implementation."""
    life = durations.groupBy("d").agg(
        F.sum("ev").cast("long").alias("events"),
        F.count("*").cast("long").alias("leaving"),
    )
    w_risk = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return life.withColumn(
        "at_risk", F.sum("leaving").over(w_risk).cast("long")
    )


def km_survival(life: DataFrame) -> DataFrame:
    """Kaplan–Meier product-limit column over a life table: the
    ordered cumulative product of (1 − dᵢ/nᵢ), one IEEE division per
    day, folded in ascending-day ROWS-frame order (shared by
    w_kaplan_meier and the external-golden test)."""
    w_surv = Window.orderBy(F.asc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return life.withColumn(
        "survival",
        F.product(
            F.lit(1.0) - F.col("events").cast("double") / F.col("at_risk")
        ).over(w_surv),
    )


def nelson_aalen_hazard(life: DataFrame) -> DataFrame:
    """Nelson–Aalen cumulative-hazard column H(d) = Σ dᵢ/nᵢ over a
    life table (shared by w_nelson_aalen and the external-golden
    test)."""
    w_cum = Window.orderBy(F.asc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return life.withColumn(
        "cum_hazard",
        F.sum(
            F.col("events").cast("double") / F.col("at_risk")
        ).over(w_cum),
    )


@query(
    "w_kaplan_meier",
    oracle=f"""
    WITH {_LIFE_TABLE_SQL}
    SELECT d, at_risk, events,
           product(1.0 - CAST(events AS DOUBLE) / at_risk) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS survival
    FROM tbl
    """,
)
def w_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of time from first view to first
    purchase, right-censored at the observation horizon.  Per-user
    durations come from the funnel-style conditional-min joins (user-
    keyed shuffles only); the life table is a day-keyed agg with a
    descending running count for the risk set; the survival curve is
    the ordered cumulative product of (1 − dᵢ/nᵢ) — each factor ONE
    IEEE division and both engines folding the product in the same
    ROWS-frame day order, so even the floats hash-match.  Life table
    shared with w_nelson_aalen via ``_life_table``/``_LIFE_TABLE_SQL``;
    the estimator core (``km_survival``) is also pinned against the
    published Freireich-1963 6-MP survival curve in
    tests/test_ml_extras.py."""
    return km_survival(_life_table(spark, sf_dir)).select(
        "d", "at_risk", "events", "survival"
    )


@query(
    "w_nelson_aalen",
    oracle=f"""
    WITH {_LIFE_TABLE_SQL}
    SELECT d, at_risk, events,
           SUM(CAST(events AS DOUBLE) / at_risk) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum_hazard
    FROM tbl
    """,
)
def w_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(d) = Σ dᵢ/nᵢ over the SAME
    life table as w_kaplan_meier (shared fragments — the risk-set
    definition cannot drift between the estimators) — the hazard-scale
    companion KM practitioners plot to read event-rate CHANGES, where
    the survival curve flattens everything multiplicatively.

    Same determinism argument as KM: one IEEE division per day,
    cumulative sum folded in the identical ROWS-frame order on both
    engines; the window rides the day-keyed bounded life table.  The
    estimator core (``nelson_aalen_hazard``) is pinned against the
    hand-derived H(t) on the published Freireich-1963 data in
    tests/test_ml_extras.py."""
    return nelson_aalen_hazard(_life_table(spark, sf_dir)).select(
        "d", "at_risk", "events", "cum_hazard"
    )


# --- Markov-chain attribution (removal effects) --------------------------------------
_MC_ITERS = 60
_MC_CHANNELS = ("click", "error", "signup", "view")


def _mc_term_sql(f: str) -> str:
    """v'_F = F_purchase + Σ_t (0 if t removed else F_t·v_t), fixed
    order click,error,signup,view, left-associated — the exact
    expression the Python mirror folds."""
    acc = f"{f}_purchase"
    for t in _MC_CHANNELS:
        acc = (
            f"({acc} + (CASE WHEN scen = '{t}' THEN 0.0 "
            f"ELSE {f}_{t} * v_{t[0]} END))"
        )
    return acc


@query(
    "w_markov_attribution",
    oracle=f"""
    WITH RECURSIVE
    fp AS (
      SELECT user_id, ts AS fts, event_id AS fid,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ),
    fp1 AS (SELECT user_id, fts, fid FROM fp WHERE rn = 1),
    trunc AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type
      FROM events e LEFT JOIN fp1 USING (user_id)
      WHERE fp1.user_id IS NULL
         OR e.ts < fp1.fts
         OR (e.ts = fp1.fts AND e.event_id <= fp1.fid)
    ),
    seq AS (
      SELECT event_type,
             lag(event_type) OVER w AS prev,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rrn
      FROM trunc
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trans AS (
      SELECT COALESCE(prev, 'start') AS f, event_type AS t FROM seq
      UNION ALL
      SELECT event_type AS f, 'null' AS t FROM seq
      WHERE rrn = 1 AND event_type <> 'purchase'
    ),
    counts AS (SELECT f, t, COUNT(*) AS n FROM trans GROUP BY 1, 2),
    mat AS (
      SELECT f,
             CAST(COALESCE(SUM(CASE WHEN t='click'    THEN n END), 0)
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_click,
             CAST(COALESCE(SUM(CASE WHEN t='error'    THEN n END), 0)
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_error,
             CAST(COALESCE(SUM(CASE WHEN t='signup'   THEN n END), 0)
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_signup,
             CAST(COALESCE(SUM(CASE WHEN t='view'     THEN n END), 0)
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_view,
             CAST(COALESCE(SUM(CASE WHEN t='purchase' THEN n END), 0)
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_purchase
      FROM counts GROUP BY f
    ),
    wide AS (
      SELECT
        {", ".join(
            f"COALESCE(MAX(CASE WHEN f = '{f}' THEN p_{t} END), 0.0)"
            f" AS {f}_{t}"
            for f in ("start",) + _MC_CHANNELS
            for t in _MC_CHANNELS + ("purchase",)
        )}
      FROM mat
    ),
    scen(scen) AS (
      VALUES ('base'), ('click'), ('error'), ('signup'), ('view')
    ),
    it(k, scen, v_c, v_e, v_s, v_v) AS (
      -- CAST anchors: bare 0.0 would type the columns DECIMAL(1,1)
      -- and quantize the whole iteration (the recursive-CTE
      -- anchor-typing gotcha, same as m26_holt_winters)
      SELECT 0, scen, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
      FROM scen
      UNION ALL
      SELECT it.k + 1, it.scen,
             {_mc_term_sql("click")},
             {_mc_term_sql("error")},
             {_mc_term_sql("signup")},
             {_mc_term_sql("view")}
      FROM it CROSS JOIN wide
      WHERE it.k < {_MC_ITERS}
    ),
    fin AS (SELECT * FROM it WHERE k = {_MC_ITERS}),
    conv AS (
      SELECT scen, {_mc_term_sql("start")} AS conv
      FROM fin CROSS JOIN wide
    )
    SELECT c.scen AS scenario,
           c.conv AS conv_prob,
           CASE WHEN c.scen = 'base' THEN 0.0
                ELSE 1.0 - c.conv / b.conv END AS removal_effect
    FROM conv c CROSS JOIN (SELECT conv FROM conv WHERE scen='base') b
    """,
)
def w_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    alternative to last-touch credit (Anderl et al. 2016 shape): user
    journeys truncated at first purchase, a 'start'-augmented
    transition matrix with 'purchase'/'null' absorbing, conversion
    probability from 'start' by fixed-point absorption iteration, and
    each channel's removal effect = 1 − conv(without channel)/conv.

    The whole chain is ONE lazy plan (zero construction jobs, r9):
    the ≤31-cell count table folds into a 1-row wide matrix aggregate,
    the five scenarios come from an explode of a literal array (no
    join — the base conversion is computed as an extra column on the
    wide row BEFORE the explode, so the events scan happens once), and
    the {_MC_ITERS} absorption iterations run in-plan via
    ``F.aggregate(sequence(...))`` — the identical left-associated
    IEEE-double fold the recursive-CTE oracle evaluates, so the float
    fixed point still hash-matches."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("fts"), F.col("event_id").alias("fid"))
    )
    # fp is USER-cardinality — never broadcast; the shuffle join on
    # user_id is the scalable truncation (same key the lag window uses)
    trunc = ev.join(fp, "user_id", "left").filter(
        F.col("fts").isNull()
        | (F.col("ts") < F.col("fts"))
        | ((F.col("ts") == F.col("fts")) & (F.col("event_id") <= F.col("fid")))
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    seq = trunc.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
        F.row_number().over(wd).alias("rrn"),
    )
    trans = seq.select(
        F.coalesce("prev", F.lit("start")).alias("f"),
        F.col("event_type").alias("t"),
    ).unionAll(
        seq.filter(
            (F.col("rrn") == 1) & (F.col("event_type") != "purchase")
        ).select(F.col("event_type").alias("f"), F.lit("null").alias("t"))
    )
    counts = trans.groupBy("f", "t").agg(F.count("*").alias("n"))
    # 1-row wide matrix: per-(f,t) counts plus per-f totals (totals
    # include the 'null' absorber — the oracle's SUM(n) GROUP BY f).
    # r10 construction-cost pass: every repeated expression here ships
    # as ONE F.expr string (parsed JVM-side to the identical tree —
    # CASE/coalesce/division/fold shapes textually mirror the Column
    # chains they replace) instead of hundreds of py4j Column calls;
    # cProfile showed ~9.4k py4j round trips ≈ 1.9 s of this query's
    # construction in the when/struct builders.
    froms = ("start",) + _MC_CHANNELS
    targets = _MC_CHANNELS + ("purchase",)
    aggs = []
    for f_ in froms:
        aggs.append(
            F.expr(
                f"coalesce(sum(CASE WHEN f = '{f_}' THEN n END), 0)"
                f" AS tot_{f_}"
            )
        )
        for t_ in targets:
            aggs.append(
                F.expr(
                    f"coalesce(sum(CASE WHEN f = '{f_}' AND t = '{t_}'"
                    f" THEN n END), 0) AS n_{f_}_{t_}"
                )
            )
    # row-normalized probabilities — same long/long→double division as
    # the oracle's CAST ... AS DOUBLE (ANSI-safe zero guard mirrors the
    # oracle's absent-row COALESCE 0.0).
    wide = counts.agg(*aggs).select(
        *[
            F.expr(
                f"CASE WHEN tot_{f_} = 0 THEN CAST(0.0 AS DOUBLE)"
                f" ELSE n_{f_}_{t_} / tot_{f_} END AS p_{f_}_{t_}"
            )
            for f_ in froms
            for t_ in targets
        ]
    )

    def term_sql(f_: str, scen_sql: str, acc_ref: str) -> str:
        """v'_F — the exact left-associated fold `_mc_term_sql` states,
        over the Spark-side p_{f}_{t} columns."""
        acc = f"p_{f_}_purchase"
        for t_ in _MC_CHANNELS:
            acc = (
                f"({acc} + (CASE WHEN {scen_sql} = '{t_}' THEN"
                f" CAST(0.0 AS DOUBLE)"
                f" ELSE p_{f_}_{t_} * {acc_ref}.{t_[0]} END))"
            )
        return acc

    def absorb(scen_sql: str) -> Column:
        init = ", ".join(
            f"'{t_[0]}', CAST(0.0 AS DOUBLE)" for t_ in _MC_CHANNELS
        )
        merge = ", ".join(
            f"'{t_[0]}', {term_sql(t_, scen_sql, 'acc')}"
            for t_ in _MC_CHANNELS
        )
        return F.expr(
            f"aggregate(sequence(1, {_MC_ITERS}), named_struct({init}),"
            f" (acc, x) -> named_struct({merge}),"
            f" acc -> {term_sql('start', scen_sql, 'acc')})"
        )

    # base conversion as a column on the 1-row frame BEFORE the
    # scenario explode — one events scan, no self-join, no window.
    scens = wide.withColumn("base_conv", absorb("'base'")).select(
        F.explode(
            F.array(*[F.lit(s) for s in ("base",) + _MC_CHANNELS])
        ).alias("scen"),
        "*",
    )
    conv = absorb("scen")
    return scens.select(
        F.col("scen").alias("scenario"),
        conv.alias("conv_prob"),
        F.when(F.col("scen") == "base", F.lit(0.0))
        .otherwise(F.lit(1.0) - conv / F.col("base_conv"))
        .alias("removal_effect"),
    )


# --- rolling 28-day distinct users (MAU curve) ---------------------------------------
@query(
    "w_rolling_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    cal AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    hits AS (
      SELECT c.d, du.user_id
      FROM cal c JOIN du
        ON du.d <= c.d AND du.d > c.d - 28
    )
    SELECT d,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM hits GROUP BY d
    """,
)
def w_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-day distinct active users per day — the MAU curve.
    Sliding DISTINCT does not decompose into window partials, so the
    scalable exact form is a BOUNDED fan-out: each (day, user) distinct
    pair replicates to the <= 28 calendar days whose window contains
    it (row-local sequence/explode — never a range join against the
    full event table), then one distinct-count per day.  Fan-out cost
    is 28x the per-day-distinct table (already collapsed from raw
    events), fixed at any corpus scale; the approximate tier at
    extreme scale is an HLL sketch union over the same 28 partials
    (a_approx_distinct family).

    r10 (guide §2.3): the 28× fanned (day, user) stream used to cross
    the wire into a two-phase countDistinct.  Each user's covered days
    are instead merged row-locally after ONE user-keyed exchange of
    the per-day-distinct table: per user, overlapping [d, d+27]
    windows coalesce into islands (classic gaps-and-islands running
    max), each island explodes its covered days exactly once — so
    (d, user) rows are unique by construction, the per-day aggregate
    is a plain map-side-combinable count (≤ #calendar-days rows per
    task cross the wire), and the duplicate-eliminating exchange of
    the 28×-amplified stream disappears.  Same integers: a user
    counts toward day d iff some active day lies in (d-27, d].
    """
    from ..session import ensure_utc

    ensure_utc(spark)
    du = (
        tbl(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .transform(shared_plan)
    )
    cal = du.select("d").distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    prev_end = F.max(F.date_add("d", 27)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_end.isNull() | (F.col("d") > prev_end)
    ).cast("int")
    isl = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    islands = (
        du.withColumn("isl", isl)
        .groupBy("user_id", "isl")
        .agg(
            F.min("d").alias("s"),
            F.date_add(F.max("d"), 27).alias("e"),
        )
    )
    days = islands.select(
        "user_id", F.explode(F.sequence("s", "e")).alias("d")
    )
    return (
        days.join(F.broadcast(cal), "d")  # clamp to observed days only
        .groupBy("d")
        .agg(F.count("*").alias("mau"))
    )


# --- time-weighted average (TWAP / LOCF integral) -----------------------------------
@query(
    "w_time_weighted_avg",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS nxt_us
      FROM events
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(nxt_us) AS BIGINT) AS n_intervals,
             CAST(SUM(nxt_us - t_us) AS HUGEINT) AS span_us,
             CAST(SUM(CAST(v_c AS HUGEINT) * (nxt_us - t_us)) AS HUGEINT)
               AS vt_sum
      FROM obs WHERE nxt_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_intervals,
           CAST(span_us AS BIGINT) AS span_us,
           CAST((100 * vt_sum) // span_us AS BIGINT) AS twap_q4
    FROM sums
    """,
)
def w_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type over irregular
    observations (the TimescaleDB ``time_weight``-style LOCF integral):
    each observation's value holds until the NEXT observation of that
    type, so TWAP = Σ(v·Δt)/ΣΔt — the correct average when sampling is
    bursty and a plain AVG over-weights the bursts.

    Exactness: Δt is exact integer microseconds (unix_micros ≡ DuckDB
    epoch_us), values exact cents; the v·Δt products ride
    DECIMAL(38,0)/HUGEINT (cents·µs overflows int64 on year spans) and
    the quotient is emitted as exact q4 fixed point via one truncating
    division — no >2^53 integer→double cast ever forms.  Plan: one
    partitioned lead window on the natural (event_type) key + one hash
    aggregate."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    obs = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_c"),
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    d38 = "decimal(38,0)"
    sums = obs.groupBy("event_type").agg(
        F.count("nxt_us").alias("n_intervals"),
        F.sum(F.col("nxt_us") - F.col("t_us")).cast(d38).alias("span_us"),
        F.sum(F.col("v_c").cast(d38) * (F.col("nxt_us") - F.col("t_us")))
        .cast(d38)
        .alias("vt_sum"),
    )
    return sums.select(
        "event_type",
        "n_intervals",
        F.col("span_us").cast("long").alias("span_us"),
        F.expr("CAST((100 * vt_sum) div span_us AS BIGINT)").alias("twap_q4"),
    )


# --- OHLC bars (open/high/low/close) per day per type -------------------------------
_OHLC_ORACLE = """
    WITH obs AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
             row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT d, event_type,
           CAST(MAX(CASE WHEN rn_a = 1 THEN v_c END) AS DOUBLE) / 100.0 AS open,
           CAST(MAX(v_c) AS DOUBLE) / 100.0 AS high,
           CAST(MIN(v_c) AS DOUBLE) / 100.0 AS low,
           CAST(MAX(CASE WHEN rn_d = 1 THEN v_c END) AS DOUBLE) / 100.0 AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_c) AS BIGINT) AS volume_c
    FROM obs GROUP BY d, event_type
    """


@query("ts_ohlc_bars", oracle=_OHLC_ORACLE)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candle bars per event type — the standard downsampling
    shape for telemetry/market series.  Open/close are the FIRST/LAST
    values in deterministic (ts, event_id) order (rank windows on the
    bounded (day, type) partitions — ties on equal timestamps cannot
    flip the bar), high/low/volume exact integer cents.  At scale every
    window partition is one day of one type; nothing global."""
    ev = tbl(spark, sf_dir, "events")
    d = F.to_date("ts").alias("d")
    wa = Window.partitionBy(F.to_date("ts"), "event_type").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy(F.to_date("ts"), "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = ev.select(
        d,
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_c"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return obs.groupBy("d", "event_type").agg(
        (
            F.max(F.when(F.col("rn_a") == 1, F.col("v_c"))).cast("double")
            / 100.0
        ).alias("open"),
        (F.max("v_c").cast("double") / 100.0).alias("high"),
        (F.min("v_c").cast("double") / 100.0).alias("low"),
        (
            F.max(F.when(F.col("rn_d") == 1, F.col("v_c"))).cast("double")
            / 100.0
        ).alias("close"),
        F.count("*").alias("n_events"),
        F.sum("v_c").cast("long").alias("volume_c"),
    )


@query("stream_ohlc_bars", oracle=_OHLC_ORACLE)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_ohlc_bars — ordered-seal instance #3
    (streaming/ohlc_stream.py).  The per-day bar state is a full
    semilattice (min/max-keyed open/close + min/max/count/sum), so
    out-of-order arrival within a day is free; a day's bar is emitted
    exactly once when the watermark passes its end, and the unsealed
    tail is recovered via the statestore reader.  Shares the batch
    oracle verbatim; the multi-batch case is pytest-pinned
    (tests/test_ohlc_stream.py)."""
    from ..session import ensure_utc
    from ..streaming.ohlc_stream import run_ohlc_available_now

    ensure_utc(spark)
    return run_ohlc_available_now(spark, sf_dir.rstrip("/"))


# --- cohort lifetime-value curve ---------------------------------------------------
@query(
    "w_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    spend AS (
      SELECT f.user_id,
             CAST(date_trunc('month', f.d0) AS DATE) AS cohort,
             CAST((epoch_us(CAST(e.ts AS TIMESTAMP))
                   - epoch_us(CAST(f.d0 AS TIMESTAMP)))
                  // (7 * 86400000000) AS BIGINT) AS week,
             CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
    ),
    wk AS (
      SELECT cohort, week,
             CAST(SUM(v_c) AS BIGINT) AS week_rev_c,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      FROM spend GROUP BY cohort, week
    ),
    cohort_size AS (
      SELECT CAST(date_trunc('month', d0) AS DATE) AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY 1
    )
    SELECT wk.cohort, wk.week, wk.week_rev_c, wk.active_users,
           CAST(SUM(wk.week_rev_c) OVER (
             PARTITION BY wk.cohort ORDER BY wk.week
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_rev_c,
           cs.n_users,
           CAST((100 * SUM(wk.week_rev_c) OVER (
             PARTITION BY wk.cohort ORDER BY wk.week
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) // cs.n_users AS BIGINT) AS ltv_per_user_q4
    FROM wk JOIN cohort_size cs ON cs.cohort = wk.cohort
    """,
)
def w_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: purchasers grouped by first-purchase
    month, cumulative revenue per weeks-since-first — the LTV companion
    to w_cohort_retention.  Cumulative sums ride (cohort, week) — a
    calendar-bounded frame — and the per-user LTV is one truncating
    integer division into q4 fixed point (cents·100 // users), so the
    whole curve is exact integers."""
    ev = tbl(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    us_per_week = 7 * 86_400_000_000
    spend = ev.join(first_seen, "user_id").select(
        "user_id",
        F.trunc("d0", "MM").alias("cohort"),
        F.expr(
            f"(unix_micros(ts) - unix_micros(CAST(d0 AS TIMESTAMP)))"
            f" div {us_per_week}"
        ).alias("week"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_c"),
    )
    wk = spend.groupBy("cohort", "week").agg(
        F.sum("v_c").cast("long").alias("week_rev_c"),
        F.countDistinct("user_id").alias("active_users"),
    )
    cohort_size = first_seen.groupBy(F.trunc("d0", "MM").alias("cohort")).agg(
        F.count("*").alias("n_users")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("week_rev_c").over(w)
    return (
        wk.join(F.broadcast(cohort_size), "cohort")
        .select(
            "cohort",
            "week",
            "week_rev_c",
            "active_users",
            cum.cast("long").alias("cum_rev_c"),
            "n_users",
            F.expr(
                "CAST((100 * SUM(week_rev_c) OVER ("
                "PARTITION BY cohort ORDER BY week"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                ")) div n_users AS BIGINT)"
            ).alias("ltv_per_user_q4"),
        )
    )


# --- longest activity streak: gaps-and-islands ---------------------------------------
@query(
    "w_streak_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id,
             d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
      FROM d
    ),
    runs AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
)
def w_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands shape (date minus per-user row_number is constant
    inside a run), the engagement metric every product-analytics stack
    ships next to retention and funnels.

    Plan: one distinct on (user, day) — map-side combinable — then a
    window PARTITIONED BY the user key (never global; user activity
    partitions cleanly at any corpus size) and two user-keyed
    aggregations.  Every emitted value is an exact integer count, so
    the oracle hashes strictly.  At 100 TB the state per user is its
    distinct-day list — bounded by the calendar, not the event
    volume."""
    d = (
        tbl(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        d.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
        .groupBy("user_id", "anchor")
        .agg(F.count("*").alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").cast("long").alias("active_days"),
        F.count("*").alias("n_streaks"),
    )


# --- user lifecycle state machine ------------------------------------------------------
@query(
    "w_lifecycle_states",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                  AS BIGINT) AS wk
      FROM events
    ),
    seq AS (
      SELECT user_id, wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    horizon AS (SELECT MAX(wk) AS max_wk FROM uw),
    states AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM seq
      UNION ALL
      SELECT wk + 1 AS wk, 'churned' AS state
      FROM seq, horizon
      WHERE (next_wk IS NULL OR next_wk > wk + 1) AND wk + 1 <= horizon.max_wk
    )
    SELECT wk,
           CAST(SUM((state = 'new')::INT) AS BIGINT) AS n_new,
           CAST(SUM((state = 'retained')::INT) AS BIGINT) AS n_retained,
           CAST(SUM((state = 'resurrected')::INT) AS BIGINT) AS n_resurrected,
           CAST(SUM((state = 'churned')::INT) AS BIGINT) AS n_churned
    FROM states GROUP BY wk
    """,
)
def w_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the lifecycle state machine every
    subscription/consumer dashboard decomposes its actives into: NEW
    (first active week), RETAINED (active, active the week before),
    RESURRECTED (active after a gap), plus CHURNED events attributed
    to the first inactive week (bounded by the observation horizon).
    Identity: actives(w) = new + retained + resurrected, and
    retained(w) = actives(w−1) − churned(w).

    Weeks are Monday-anchored integer indices (epoch-day div 7 — pure
    integer arithmetic, no engine week-truncation semantics to agree
    on).  Per-user min/lag/lead windows ride the user-partitioned
    distinct (user, week) frame — user-bounded state at any scale —
    and the final shuffle is one week-keyed count."""
    uw = (
        tbl(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05')"
                " div 7 AS BIGINT)"
            ).alias("wk"),
        )
        .distinct()
        # user-weeks; feeds seq AND horizon.  NO width cap: the frame is
        # user-cardinality (corpus-scale), and a static coalesce would
        # choke every downstream stage's map side at that constant —
        # the r8 advice fix; width= stays reserved for KNOWN-SMALL
        # frames (vocab, candidate short-lists).
        .transform(shared_plan)
    )
    wu = Window.partitionBy("user_id")
    wo = wu.orderBy("wk")
    seq = uw.select(
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
        F.lead("wk").over(wo).alias("next_wk"),
    ).transform(shared_plan)  # user-cardinality — no width cap (see above)
    horizon = uw.agg(F.max("wk").alias("max_wk"))
    active_states = seq.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), F.lit("new"))
        .when(F.col("prev_wk") == F.col("wk") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    churn = (
        seq.crossJoin(F.broadcast(horizon))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= F.col("max_wk"))
        )
        .select((F.col("wk") + 1).alias("wk"), F.lit("churned").alias("state"))
    )
    states = active_states.unionAll(churn)
    return states.groupBy("wk").agg(
        F.sum((F.col("state") == "new").cast("int")).cast("long").alias("n_new"),
        F.sum((F.col("state") == "retained").cast("int"))
        .cast("long")
        .alias("n_retained"),
        F.sum((F.col("state") == "resurrected").cast("int"))
        .cast("long")
        .alias("n_resurrected"),
        F.sum((F.col("state") == "churned").cast("int"))
        .cast("long")
        .alias("n_churned"),
    )


# --- first/last-touch attribution ------------------------------------------------------
@query(
    "w_touch_attribution",
    oracle="""
    WITH purch AS (
      SELECT event_id, user_id, ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_c
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.event_id AS pid, p.rev_c,
             arg_min(e.event_type,
                     lpad(CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) AS VARCHAR),
                          20, '0') || ':' ||
                     lpad(CAST(e.event_id AS VARCHAR), 20, '0'))
               AS first_touch,
             arg_max(e.event_type,
                     lpad(CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) AS VARCHAR),
                          20, '0') || ':' ||
                     lpad(CAST(e.event_id AS VARCHAR), 20, '0'))
               AS last_touch
      FROM purch p
      JOIN events e ON e.user_id = p.user_id AND e.ts < p.ts
                    AND e.event_type <> 'purchase'
      GROUP BY p.event_id, p.rev_c
    ),
    models AS (
      SELECT first_touch AS channel, 'first' AS model, rev_c FROM touches
      UNION ALL
      SELECT last_touch AS channel, 'last' AS model, rev_c FROM touches
    )
    SELECT channel,
           CAST(SUM(CASE WHEN model = 'first' THEN rev_c ELSE 0 END)
                AS BIGINT) AS first_touch_rev_c,
           CAST(SUM(CASE WHEN model = 'last' THEN rev_c ELSE 0 END)
                AS BIGINT) AS last_touch_rev_c,
           CAST(SUM((model = 'first')::INT) AS BIGINT) AS n_first,
           CAST(SUM((model = 'last')::INT) AS BIGINT) AS n_last
    FROM models GROUP BY channel
    """,
)
def w_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution — the baseline
    models every attribution suite reports next to the data-driven one
    (w_markov_attribution's removal effects): each purchase credits
    100% of its cents to the earliest / latest preceding non-purchase
    event of that user.  Deterministic touch selection by a
    zero-padded (micros, event_id) string key — lexicographic equals
    numeric order because both pad widths (20) exceed the 19-digit
    maximum of a positive BIGINT, so no value can be truncated — and it
    is a type both engines' arg_min/max_by accept; attribution sums
    are exact integer cents.

    Plan: the purchase←history association is a user-keyed equi-join
    with a ts inequality (user-bounded fan-out, the funnel-family
    argument), collapsed immediately by ONE min_by/max_by aggregation
    per purchase — no window over raw events, no per-user arrays."""
    ev = tbl(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        F.col("ts").alias("pts"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rev_c"),
    )
    hist = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    touches = (
        purch.join(
            hist,
            (F.col("user_id") == F.col("puser")) & (F.col("ts") < F.col("pts")),
        )
        .groupBy("pid", "rev_c")
        .agg(
            F.expr(
                "min_by(event_type, lpad(CAST(unix_micros(ts) AS STRING),"
                " 20, '0') || ':' || lpad(CAST(event_id AS STRING), 20, '0'))"
            ).alias("first_touch"),
            F.expr(
                "max_by(event_type, lpad(CAST(unix_micros(ts) AS STRING),"
                " 20, '0') || ':' || lpad(CAST(event_id AS STRING), 20, '0'))"
            ).alias("last_touch"),
        )
    )
    models = touches.select(
        F.col("first_touch").alias("channel"),
        F.lit("first").alias("model"),
        "rev_c",
    ).unionAll(
        touches.select(
            F.col("last_touch").alias("channel"),
            F.lit("last").alias("model"),
            "rev_c",
        )
    )
    return models.groupBy("channel").agg(
        F.sum(F.when(F.col("model") == "first", F.col("rev_c")).otherwise(0))
        .cast("long")
        .alias("first_touch_rev_c"),
        F.sum(F.when(F.col("model") == "last", F.col("rev_c")).otherwise(0))
        .cast("long")
        .alias("last_touch_rev_c"),
        F.sum((F.col("model") == "first").cast("int"))
        .cast("long")
        .alias("n_first"),
        F.sum((F.col("model") == "last").cast("int"))
        .cast("long")
        .alias("n_last"),
    )
