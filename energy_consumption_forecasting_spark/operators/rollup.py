"""Continuous-aggregate rollup — the hypertable pattern on Spark.

At 100 TB you do not rescan the fact table for every calendar grain:
you materialize ONE fine-grain rollup (daily) whose state is
*re-aggregable* — counts and exact decimal sums, never averages — and
answer every coarser grain (monthly, yearly) from it.  The daily table
is ~5 orders of magnitude smaller than the facts, partitioned by year
so coarse queries with a time predicate prune whole partition
directories before any IO.

The re-aggregability contract is what makes this exact rather than
approximate: SUM-of-SUMs == SUM, SUM-of-COUNTs == COUNT, and every
ratio (avg) is derived once, at the final grain, from the composed
sums — identical to computing it directly from the facts, which is the
oracle's check.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import STAGE_DIR

STAGE = os.path.join(STAGE_DIR, "rollup")


def daily_state(lineitem: DataFrame) -> DataFrame:
    """The fine-grain rollup: per ship-day re-aggregable state."""
    return lineitem.groupBy(
        F.to_date("l_shipdate").alias("d"),
        F.year("l_shipdate").alias("y"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
    )


_DAILY_SCHEMA = (
    "d date, n bigint, sum_qty decimal(28,2), sum_price decimal(28,2), y int"
)


def materialize_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the daily rollup to parquet partitioned by year, read it
    back.  Partitioning by year is the pruning unit: a monthly/yearly
    query with a time filter touches only its year directories.

    IDEMPOTENT on the source mtime (r8): the store carries a marker
    recording the fact file's mtime; when it matches, the write is
    skipped and the store is read straight back with its known schema
    (no schema-inference job) — the hypertable contract, "materialize
    once, serve many": in steady state the gate queries' construction
    is pure, and only a driver testdata regeneration triggers a
    rebuild."""
    src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    path = os.path.join(STAGE, os.path.basename(sf_dir.rstrip("/")))
    marker = os.path.join(path, "_SRC_MTIME")
    try:
        src_mtime = str(os.path.getmtime(src))
    except OSError:
        src_mtime = "0"
    fresh = False
    try:
        fresh = open(marker).read().strip() == src_mtime
    except OSError:
        pass
    if not fresh:
        lineitem = spark.read.parquet(src)
        daily_state(lineitem).write.mode("overwrite").partitionBy("y").parquet(
            path
        )
        with open(marker, "w") as f:
            f.write(src_mtime)
    # explicit schema: spark.read.parquet would launch a footer
    # schema-inference job per call; partition (y) discovery is a
    # driver-side listing, no job
    return spark.read.schema(_DAILY_SCHEMA).parquet(path)


def reaggregate(daily: DataFrame, grain: str) -> DataFrame:
    """Answer a coarser calendar grain from the daily state.

    ``grain``: 'month' or 'year'.  Sums compose exactly (decimal);
    the average is derived once here, never stored."""
    key = (
        F.date_trunc("month", F.col("d")).cast("date").alias("period")
        if grain == "month"
        else F.col("y").cast("int").alias("period")
    )
    return (
        daily.groupBy(key)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_qty").alias("sum_qty"),
            F.sum("sum_price").alias("sum_price"),
        )
        .select(
            "period",
            F.col("n").cast("long").alias("n"),
            F.col("sum_qty").cast("double").alias("total_qty"),
            F.col("sum_price").cast("double").alias("total_price"),
            (F.col("sum_price").cast("double") / F.col("n")).alias("avg_price"),
        )
    )
