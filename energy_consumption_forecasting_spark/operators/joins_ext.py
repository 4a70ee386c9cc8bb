"""Extended join operators: range join and generic as-of join.

Neither is a single Spark primitive; both are composed so the physical
plan stays an equi-join / window, never a nested-loop:

* **Range join** (value BETWEEN lo AND hi): naively a broadcast
  nested-loop.  The scalable form buckets both sides by a bin key
  (bin size ≈ typical interval width) so the planner gets an equi key,
  then re-checks the exact bounds — O(rows × bins-per-interval) instead
  of O(rows × intervals).
* **As-of join** (latest right row with r.time ≤ l.time per key): the
  union-merge form — tag both sides, union, one window pass carrying
  the last right value forward — one shuffle on (key, time), no
  per-row probing.  This generalizes SURVEY J3/J4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_join_binned(
    facts: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bin_size: float,
) -> DataFrame:
    """Inner-join fact rows to intervals containing their value via bin
    bucketing + exact bound re-check.

    Intervals spanning multiple bins are exploded to one row per
    covered bin (bounded by interval width / bin_size)."""
    f = facts.withColumn("__bin", F.floor(F.col(value_col) / bin_size).cast("long"))
    iv = (
        intervals.withColumn(
            "__bins",
            F.sequence(
                F.floor(F.col(lo_col) / bin_size).cast("long"),
                F.floor(F.col(hi_col) / bin_size).cast("long"),
            ),
        )
        .withColumn("__ibin", F.explode("__bins"))
        .drop("__bins")
    )
    # The exact bounds check lives IN the join condition; the bin
    # equality gives the planner its equi key.
    cond = (F.col("__bin") == F.col("__ibin")) & F.col(value_col).between(
        F.col(lo_col), F.col(hi_col)
    )
    joined = f.join(iv, cond, "inner")
    return joined.drop("__bin", "__ibin")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_cols: list[str],
) -> DataFrame:
    """For every left row, attach the most recent right values (as
    ``<col>_asof``) with right.time ≤ left.time (per key) — union-merge
    implementation.

    One shuffle on (key, time); right rows ride the same window as
    left rows, so there is no join at all in the physical plan."""
    lt = left.withColumn("__side", F.lit(1))
    # All right values ride in ONE struct that is non-null whenever a
    # right ROW exists — so the window's ignorenulls keys on row
    # presence, not value non-nullness: a right row whose value is NULL
    # yields NULL (as-of semantics = "the latest row's value"), instead
    # of skipping back to an older non-null value.
    rt = right.select(
        *key_cols,
        time_col,
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__r_row"),
    ).withColumn("__side", F.lit(0))
    merged = lt.unionByName(rt, allowMissingColumns=True)
    # Right rows sort before left rows at the same timestamp (__side
    # 0 < 1), so an equal-time right row is visible to the left row.
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = merged.withColumn(
        "__r_last", F.last("__r_row", ignorenulls=True).over(w)
    )
    for c in value_cols:
        merged = merged.withColumn(c + "_asof", F.col(f"__r_last.{c}"))
    return merged.filter(F.col("__side") == 1).drop("__side", "__r_row", "__r_last")
