"""Distributed global ordering — rank and running sum without the
single-partition ``Window.orderBy`` scale-killer.

``Window.orderBy(...)`` with no ``partitionBy`` moves the WHOLE table to
one partition ("WindowExec: No Partition Defined") — a single-task sort
at 100 TB.  This module is the one toolkit for global order, one
implementation per operation:

* :func:`global_row_number` — the generic two-pass rank for ANY order
  key: ``repartitionByRange`` on the key (contiguous, non-overlapping
  key ranges sorted locally in parallel), a per-partition count (one
  tiny job, ≤ #partitions rows collected), and exclusive partition
  offsets broadcast-joined back, so rank = offset + local rank.
* :func:`global_row_number_lazy` — the same rank with ZERO Spark
  actions, for orders that carry a monotone coarse ``bucket`` key
  (months, hash-range prefixes): offsets key on data values and ride
  the plan as a bucket-sized aggregate subtree.
* :func:`global_prefix_sum_lazy` — exact running sums of one or more
  integral values over such a bucketed order, same lazy shape.
* :func:`lag_by_rank` and :func:`ntile_expr` — positional lags and the
  exact ``ntile`` fold algebra as joins / column expressions of a
  global rank.

Ranks are exact for any total order; ties never straddle a range
boundary when the order key is made unique with a tiebreaker column,
which every caller here does.

Reference parity: the pandas ``sort_values``/``reset_index`` idiom
(ETL.py:90,219,311) assumes one in-memory frame; this is its
cluster-shaped equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__rank_pid"
_OFF = "__rank_off"
_BKT = "__rank_bkt"

# Materialization rule: the range-shuffled intermediate is
# ``localCheckpoint``ed, NOT ``persist()``ed.  The offsets are
# collected from one physical partitioning; if a persisted intermediate
# is ever evicted and recomputed (or AQE re-plans the exchange), the
# recomputed partition ids can disagree with the collected offsets and
# the "exact" rank silently shifts at partition boundaries — observed
# as fold-boundary flips under a vanilla 200-partition session.  A
# checkpoint freezes the partitioning for the DataFrame's lifetime, and
# its blocks are freed by the ContextCleaner when the plan is GC'd, so
# repeated rank calls don't accumulate storage the way r2's persist
# leak did.  The lazy forms key offsets on bucket VALUES, which cannot
# drift, so they need no checkpoint.


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    rn_col: str = "rn",
) -> tuple[DataFrame, int]:
    """Attach an exact global 1-based ``rn_col`` ordered by ``order_cols``
    (ascending); returns ``(ranked_df, total_rows)``.

    Triggers one counting job (the two-pass trade: a #partitions-sized
    collect instead of a whole-table single-task sort).  The counting
    job also materializes the checkpoint, so the count pass and the
    ranked output share the range shuffle.  Orders with a monotone
    coarse bucket key should use :func:`global_row_number_lazy`, which
    needs neither the sampling pass nor the job."""
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(parts, *cols)
        .withColumn(_PID, F.spark_partition_id())
        # lazy: the counts collect below materializes the checkpoint —
        # one pass instead of eager's two, same frozen partitioning
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r[_PID], r["cnt"])
        for r in ranged.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    total = acc
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], f"{_PID} int, {_OFF} long")
    )
    w = Window.partitionBy(_PID).orderBy(*cols)
    ranked = (
        ranged.join(off_df, _PID)
        .withColumn(rn_col, (F.row_number().over(w) + F.col(_OFF)).cast("long"))
        .drop(_PID, _OFF)
    )
    return ranked, total


def lag_by_rank(
    ranked: DataFrame,
    rn_col: str,
    value_col: str,
    lags: list[int],
) -> DataFrame:
    """Positional lag features ``lag_<k>`` from a global rank column: one broadcast-
    friendly equi-join per lag on ``rn - k`` (no global-order window).
    Rows missing any lag (the first ``max(lags)``) are dropped, matching
    ``F.lag`` + ``na.drop`` semantics on a unique total order."""
    out = ranked
    for k in lags:
        shifted = ranked.select(
            (F.col(rn_col) + k).alias(rn_col),
            F.col(value_col).alias(f"lag_{k}"),
        )
        out = out.join(shifted, rn_col, "inner")
    return out


def global_row_number_lazy(
    df: DataFrame,
    order_cols: list[str | Column],
    bucket: Column,
    rn_col: str = "rn",
    total_col: str | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """The bucket fast path with ZERO driver actions.

    Per-bucket counts, exclusive offsets, and (optionally, as
    ``total_col``) the grand total are computed as a
    bucket-cardinality-sized aggregate SUBTREE broadcast back into the
    main pass — the whole rank is one lazy plan, so callers that need
    ``n`` only inside column expressions (fold boundaries, split
    thresholds) skip ``global_row_number``'s counting job entirely.

    The offsets window is a deliberate single-partition window over
    the per-bucket COUNTS (months / hash prefixes — bounded), the
    repo's "tiny calendar series" exception, never over the data.

    NULL-bucket contract: matched lazily — a NULL bucket misses the
    left-joined offsets row and trips ``raise_error`` at runtime
    instead of silently dropping or mis-ranking the row.

    ``broadcast_offsets=False`` drops the explicit broadcast hint on
    the offsets join (it becomes a plain shuffle join on the bucket
    key).  Callers that LAZY-CHECKPOINT a subtree containing this rank
    need that: preparing a plan that holds an explicit-hint
    BroadcastHashJoin submits the broadcast future — and with it the
    whole input subtree — at ``.rdd`` construction, which is exactly
    the construction-time job the lazy form exists to avoid.  The cost
    is one extra shuffle of the RANKED table (bucket-keyed, e.g.
    vocabulary-sized), never of the corpus the rank feeds."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    tagged = df.withColumn(_BKT, bucket)
    counts = tagged.groupBy(_BKT).agg(F.count("*").alias("__cnt"))
    w_prior = Window.orderBy(_BKT).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_total = Window.orderBy(_BKT).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col(_BKT),
        F.coalesce(F.sum("__cnt").over(w_prior), F.lit(0)).alias(_OFF),
    ]
    if total_col is not None:
        off_cols.append(F.sum("__cnt").over(w_total).alias(total_col))
    offs = counts.select(*off_cols)
    wl = Window.partitionBy(_BKT).orderBy(*cols)
    guarded_off = F.coalesce(
        F.col(_OFF),
        F.raise_error(
            F.lit(
                "global_row_number_lazy: bucket expression produced NULL"
            )
        ).cast("long"),
    )
    offs_side = F.broadcast(offs) if broadcast_offsets else offs
    return (
        tagged.join(offs_side, _BKT, "left")
        .withColumn(rn_col, F.row_number().over(wl) + guarded_off)
        .drop(_BKT, _OFF)
    )


def ntile_expr(rn_name: str, n_name: str, k: int):
    """Exact ``ntile(k)`` as a column expression of a global rank and
    total-count column (both attachable action-free by
    ``global_row_number_lazy``): the first ``n % k`` tiles hold
    ``ceil(n/k)`` rows — all integer algebra (``ceil(a/b) = (a+b-1)
    div b``), bit-identical to both engines' ntile."""
    big = F.col(n_name) % k
    cut = big * (F.expr(f"{n_name} div {k}") + 1)
    return F.when(
        F.col(rn_name) <= cut,
        F.expr(f"({rn_name} + {n_name} div {k}) div ({n_name} div {k} + 1)"),
    ).otherwise(
        big
        + F.expr(
            f"({rn_name} - ({n_name} % {k}) * ({n_name} div {k} + 1)"
            f" + {n_name} div {k} - 1) div ({n_name} div {k})"
        )
    )


def global_prefix_sum_lazy(
    df: DataFrame,
    order_cols: list[str | Column],
    value_cols: list[str],
    bucket: Column,
    cum_cols: list[str],
    total_col: str | None = None,
) -> DataFrame:
    """Exact inclusive running sums of ``value_cols`` over the total
    order ``order_cols``, one per ``cum_cols`` name, with ZERO Spark
    actions: per-bucket partial sums, exclusive offsets and (as
    ``total_col``) the grand total of ``value_cols[0]`` are a
    bucket-cardinality aggregate SUBTREE broadcast back into the main
    pass.  N values share one partials aggregate, one offsets window
    and one data window (r10, guide §2.4: chained single-value prefix
    sums re-derive their shared input per pass).  Values are summed as
    longs, so callers keep them integral (cents, token counts) and the
    prefix stays exact.

    ``bucket`` must be a MONOTONE coarse function of ``order_cols``
    with bounded cardinality and roughly even load.  Calendar keys over
    a date order qualify, and so do FIXED-WIDTH bands over a bounded,
    size-invariant value RANGE (the ``_rev_cum_lazy`` 2^24 revenue
    bands: band count is range/width regardless of N, and no band
    dominates — assert that with a scaling probe when adopting one).
    Limit: the within-bucket running sum is one window task per
    bucket, so a bucket holding most of the rows (log2/coarse banding
    over a CONCENTRATED value distribution) runs as a single task; this
    toolkit has no sampled-quantile prefix sum for such orders.  The
    offsets window is the sanctioned single-partition window over the
    per-bucket SUMS, never the data.  NULL buckets trip ``raise_error``
    lazily like :func:`global_row_number_lazy`."""
    if len(value_cols) != len(cum_cols):
        raise ValueError("value_cols and cum_cols must pair up")
    # the first value's internals keep the unsuffixed names
    sfx = ["" if i == 0 else f"_{i}" for i in range(len(value_cols))]
    sum_names = [f"__s{s}" for s in sfx]
    off_names = [f"{_OFF}{s}" for s in sfx]
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    tagged = df.withColumn(_BKT, bucket)
    partials = tagged.groupBy(_BKT).agg(
        *[
            F.sum(F.col(v)).cast("long").alias(s)
            for v, s in zip(value_cols, sum_names)
        ]
    )
    w_prior = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
    w_total = Window.orderBy(_BKT).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [F.col(_BKT)] + [
        F.coalesce(F.sum(s).over(w_prior), F.lit(0)).alias(o)
        for s, o in zip(sum_names, off_names)
    ]
    if total_col is not None:
        off_cols.append(F.sum(sum_names[0]).over(w_total).alias(total_col))
    offs = partials.select(*off_cols)
    guarded_off = F.coalesce(
        F.col(off_names[0]),
        F.raise_error(
            F.lit("global_prefix_sum_lazy: bucket expression produced NULL")
        ).cast("long"),
    )
    w_local = (
        Window.partitionBy(_BKT)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = tagged.join(F.broadcast(offs), _BKT, "left")
    for i, (v, c) in enumerate(zip(value_cols, cum_cols)):
        off = guarded_off if i == 0 else F.col(off_names[i])
        out = out.withColumn(
            c, (F.sum(F.col(v)).over(w_local) + off).cast("long")
        )
    return out.drop(_BKT, *off_names)
