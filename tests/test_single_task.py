"""The single-task runner (operators/single_task.py): one kernel call
over the whole input, in input order, and a zero-row frame for an empty
input; and no hand-written ``coalesce(1)`` → ``mapInPandas`` runner
anywhere else in the package."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "energy_consumption_forecasting_spark"
RUNNER = os.path.join(PACKAGE, "operators", "single_task.py")

_SCHEMA = "n long, ids array<long>, cols array<string>"


def _kernel():
    """A kernel that returns one row per call: the rows and columns the
    call saw.  Built locally, so the Python worker unpickles it by value
    and need not import this test module."""

    def seen(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "n": [len(pdf)],
                "ids": [[int(i) for i in pdf["id"]]],
                "cols": [list(pdf.columns)],
            }
        )

    return seen


def test_run_hands_the_kernel_the_whole_input_once(spark):
    from energy_consumption_forecasting_spark.operators.single_task import run

    df = spark.range(0, 9, 1, 3).selectExpr("id", "id * 2 AS twice")
    assert df.rdd.getNumPartitions() == 3
    out = run(df, _kernel(), _SCHEMA)
    assert "seen(" in out._jdf.queryExecution().analyzed().toString()
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].n == 9
    assert rows[0].ids == list(range(9))
    assert rows[0].cols == ["id", "twice"]


def test_run_hands_an_empty_input_as_a_zero_row_frame(spark):
    from energy_consumption_forecasting_spark.operators.single_task import run

    df = spark.range(0, 9, 1, 3).selectExpr("id", "id * 2 AS twice").where("id < 0")
    rows = run(df, _kernel(), _SCHEMA).collect()
    assert [(r.n, r.ids, r.cols) for r in rows] == [(0, [], ["id", "twice"])]
    assert run(df, lambda pdf: None, _SCHEMA).collect() == []


def test_no_hand_written_single_task_runner():
    """``coalesce(1)`` followed by ``.mapInPandas(`` is the single-task
    runner; only ``single_task.run`` may write it out."""
    pattern = re.compile(r"\.coalesce\(1\)\s*\.mapInPandas\(")
    sites = []
    paths = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    for path in sorted(paths):
        rel = os.path.relpath(path, REPO)
        if rel == RUNNER:
            continue
        with open(path) as f:
            src = f.read()
        for m in pattern.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            sites.append(f"{rel}:{line}")
    assert not sites, f"call operators.single_task.run instead: {sites}"
