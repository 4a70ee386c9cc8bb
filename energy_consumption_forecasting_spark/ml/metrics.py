"""Regression metrics — SURVEY §2.7 M14.

Reference: mean_absolute_error objective (optimization.py:56-77),
MAE/MSE reporting (evaluation.ipynb:40,233).

``mae`` is a column expression, so it composes into any aggregation
(the CV scorers in ml/analysis.py).  The registered
``m14_forecast_metrics`` query reports MAE/MSE/WMAPE in exact integer
cents (queries/ml_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mae(pred: Column, label: Column) -> Column:
    return F.avg(F.abs(pred - label))
