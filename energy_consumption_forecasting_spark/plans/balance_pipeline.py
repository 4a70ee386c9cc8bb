"""EP1a — balance-sheet ETL (reference ``balance_sheets``, ETL.py:79-95).

Dataflow: per-year CSVs → keep Adjusted/non-Imputed columns → MIDW/MISO
filter → schema-aligning union → column-name normalization → timestamp
cast → sort → null-threshold drops → backfill → sink.

Spark shape: one globbed scan (or N yearly frames unioned by name),
every step lazy; the per-frame column bucketing of ``_check_columns``
(ETL.py:38-54) is exactly ``unionByName(allowMissingColumns=True)``.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_column_name(name: str) -> str:
    """Reference regex (ETL.py:87): strip parentheticals and the words
    from/at/of, lowercase, snake_case."""
    cleaned = re.sub(r"\([^()]*\)|\b(from|at|of)\b", "", name, flags=re.IGNORECASE)
    return "_".join(cleaned.lower().split())


def select_adjusted_columns(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """F2: keep keys + columns containing 'Adjusted' but not 'Imputed'
    (ETL.py:71) — driver-side name logic, pure projection on data."""
    keep = key_cols + [
        c for c in df.columns if "Adjusted" in c and "Imputed" not in c
    ]
    return df.select(*[c for c in keep if c in df.columns])


def union_aligned(frames: list[DataFrame]) -> DataFrame:
    """W17: ragged yearly frames → one table, missing columns null."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def balance_pipeline(
    yearly_frames: list[DataFrame],
    ts_col: str = "local_time_end_hour",
) -> DataFrame:
    """The full EP1a chain on already-scanned yearly frames: MIDW/MISO
    rows, columns at least 20% non-null, rows with at least 7 values."""
    kept = [
        select_adjusted_columns(
            f.filter(
                (F.col("Region") == "MIDW")
                & (F.col("`Balancing Authority`") == "MISO")
            ),
            key_cols=["Balancing Authority", "Data Date", "Hour Number", "Region",
                      ts_col],
        )
        for f in yearly_frames
    ]
    df = union_aligned(kept)
    df = df.toDF(*[normalize_column_name(c) for c in df.columns])
    ts_norm = normalize_column_name(ts_col)
    df = df.withColumn(ts_norm, F.to_timestamp(ts_norm))

    # F10: drop columns below the non-null fraction (stats pass, then
    # projection — the decision is driver-side over aggregates only).
    total = df.count()
    counts = df.agg(*[F.count(c).alias(c) for c in df.columns]).first()
    df = df.select(
        *[c for c in df.columns if counts[c] / max(total, 1) >= 0.2]
    )
    # F11: row null threshold.
    df = df.na.drop(thresh=min(7, len(df.columns)))
    # W2: backfill over time order (single bounded series — the hourly
    # feed is calendar-bounded, so the global window is small by design).
    w = Window.orderBy(ts_norm).rowsBetween(0, Window.unboundedFollowing)
    value_cols = [c for c in df.columns if c != ts_norm]
    for c in value_cols:
        df = df.withColumn(c, F.coalesce(c, F.first(c, ignorenulls=True).over(w)))
    return df.orderBy(ts_norm)
