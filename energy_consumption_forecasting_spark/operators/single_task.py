"""The single-task tier: one size rule and one runner.

A step whose whole input is small runs as ONE ``mapInPandas`` task over
the input coalesced to one partition — the engine's counterpart of an
eager in-memory pandas step, with no driver collect and no job while
the plan is built.  ``fits`` is the one rule for whether an input of a
given size may run that way; ``run`` is the one place the task is
built.  Sites whose input is small by construction (a fixed sample,
one row per partition, one row per calendar day or month) call ``run``
without ``fits``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from ..session import broadcast_budget


def fits(spark: SparkSession, n_bytes: int | None) -> bool:
    """Whether an input of ``n_bytes`` may run as one task: True only
    when the size is known and strictly below the session's broadcast
    budget (``session.broadcast_budget``); a budget of -1 never fits."""
    return n_bytes is not None and n_bytes < broadcast_budget(spark)


def run(df: DataFrame, kernel, schema) -> DataFrame:
    """``kernel`` over the whole of ``df`` in ONE ``mapInPandas`` task.

    ``kernel`` takes one pandas DataFrame — every row of ``df`` in input
    order, or a zero-row frame with ``df``'s columns when ``df`` is
    empty — and returns a pandas DataFrame of ``schema``, or None for
    no rows.  The task keeps the kernel's name, so the plan shows it."""
    columns = df.columns

    @functools.wraps(kernel)
    def task(batches):
        import pandas as pd

        parts = list(batches)
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame(columns=columns)
        )
        out = kernel(pdf)
        if out is not None:
            yield out

    return df.coalesce(1).mapInPandas(task, schema)
