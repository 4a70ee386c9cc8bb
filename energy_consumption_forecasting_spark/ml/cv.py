"""Blocked time-series cross-validation and the positional train/test
split — SURVEY §2.7 M12 / §2.5 W6-W7.

Reference: BlockingTimeSeriesSplit (utils.py:8-23) — 5 contiguous equal
blocks over time order, last 20 % of each block is validation — and the
positional 85/15 split (xgb.ipynb:532-533).

Each operation is a LABELLED frame: ``label_folds`` (``fold``,
``role``, with the thin filter view ``folds``) and ``label_split``
(``split``); the registered w6/w7 queries are the labelled frames
themselves.

Scale contract (round-6 VERDICT item 4): the DEFAULT path is the
two-pass distributed rank (``operators/ranking.global_row_number``) —
an importable library function must never single-partition a raw
100-TB frame the way a bare ``Window.orderBy`` does.  Callers with a
monotone coarse key over the order (months, hash-range prefixes) pass
``bucket=`` for the lazy rank that runs no Spark job
(``global_row_number_lazy``).  ``label_folds`` callers whose input is
already a bounded-cardinality frame (a calendar/daily aggregate — e.g.
the m12 gate) may pass ``bounded=True`` for the one-shuffle window
form.

All paths produce bit-identical assignments: the fold boundary is
exact integer ntile algebra (``ntile_expr``) and the val cutoff uses
the same ``pos > (1 - val_frac) * fold_size`` float comparison the
window form evaluates — pinned by tests/test_ml.py.

Per-fold train/val DataFrames are filters over the labeled frame — no
data duplication, so a 5-fold CV reads the base data once per
evaluation, not five times.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.ranking import (
    global_row_number,
    global_row_number_lazy,
    ntile_expr,
)


def _ranked(
    df: DataFrame, order_cols: list[str], bucket: Column | None
) -> DataFrame:
    """``df`` plus ``__rn`` (global 1-based rank over ``order_cols``)
    and ``__n`` (row count): the lazy bucket rank when ``bucket`` is
    given, else the generic two-pass rank."""
    if bucket is not None:
        return global_row_number_lazy(
            df, order_cols, bucket, rn_col="__rn", total_col="__n"
        )
    ranked, total = global_row_number(df, order_cols, rn_col="__rn")
    return ranked.withColumn("__n", F.lit(total).cast("long"))


def _label_folds_bounded(
    df: DataFrame, order_cols: list[str], n_folds: int, val_frac: float
) -> DataFrame:
    """One-shuffle window form — ONLY for inputs already reduced to
    bounded cardinality (the unpartitioned window single-partitions
    its input; plan_audit's bounded-subtree rule is the gate)."""
    w = Window.orderBy(*order_cols)
    ranked = df.withColumn("fold", F.ntile(n_folds).over(w))
    wf = Window.partitionBy("fold").orderBy(*order_cols)
    return ranked.withColumn(
        "role",
        F.when(
            F.row_number().over(wf)
            > (1.0 - val_frac) * F.count("*").over(Window.partitionBy("fold")),
            "val",
        ).otherwise("train"),
    )


def label_folds(
    df: DataFrame,
    order_cols: list[str],
    n_folds: int = 5,
    val_frac: float = 0.2,
    bounded: bool = False,
    bucket: Column | None = None,
) -> DataFrame:
    """Add ``fold`` (1..n) and ``role`` ('train'|'val') columns.

    Default: two-pass distributed rank (one counting job, never a
    single-partition sort).  ``bucket=`` (a monotone coarse key over
    ``order_cols``) upgrades to the zero-action lazy rank;
    ``bounded=True`` selects the window fast path for inputs that are
    already bounded aggregates."""
    if bounded:
        return _label_folds_bounded(df, order_cols, n_folds, val_frac)
    ranked = _ranked(df, order_cols, bucket)
    # exact integer fold algebra: the first n % k folds hold
    # ceil(n/k) rows — identical to the window ntile's assignment
    base = F.expr(f"__n div {n_folds}")
    big = F.col("__n") % n_folds
    labeled = ranked.withColumn(
        "fold", ntile_expr("__rn", "__n", n_folds).cast("int")
    )
    fold_start = (F.col("fold") - 1) * base + F.least(
        (F.col("fold") - 1).cast("long"), big
    )
    fold_size = base + (F.col("fold") <= big).cast("long")
    pos = F.col("__rn") - fold_start  # 1-based within the fold
    return labeled.withColumn(
        "role",
        F.when(pos > (1.0 - val_frac) * fold_size, "val").otherwise("train"),
    ).drop("__rn", "__n")


def folds(
    df: DataFrame,
    order_cols: list[str],
    n_folds: int = 5,
    val_frac: float = 0.2,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Yield (train, val) per fold — train is the block head, val the tail."""
    labeled = label_folds(df, order_cols, n_folds, val_frac)
    for k in range(1, n_folds + 1):
        fold_df = labeled.filter(F.col("fold") == k)
        yield (
            fold_df.filter(F.col("role") == "train").drop("fold", "role"),
            fold_df.filter(F.col("role") == "val").drop("fold", "role"),
        )


def label_split(
    df: DataFrame,
    order_cols: list[str],
    bucket: Column | None = None,
) -> DataFrame:
    """Add ``split`` ('train'|'test'): the first ``ceil(0.85·n)``
    rows in order are train — the same double→ceil arithmetic as SQL's
    ``CEIL(0.85 * COUNT(*))``, evaluated as a column, so the lazy
    bucket path needs no count job."""
    ranked = _ranked(df, order_cols, bucket)
    return ranked.withColumn(
        "split",
        F.when(F.col("__rn") <= F.ceil(0.85 * F.col("__n")), "train")
        .otherwise("test"),
    ).drop("__rn", "__n")
