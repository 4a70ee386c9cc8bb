"""Parameter stores — SURVEY §2.1 S9.

Reference: a pickled BayesianOptimization object (optimization.py:199-204).
The S8 JSON parameter dicts round-trip through Spark in the registered
``s8_params_roundtrip`` query (queries/sources_gate.py).
``save_pickle``/``load_pickle`` keep the reference's pickled-artifact
workflow — driver-side only, for dim-sized fitted parameters, never for
data."""

from __future__ import annotations

import os
import pickle
from typing import Any


def save_pickle(obj: Any, path: str) -> None:
    """S9 pickle sink (reference parity)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)


def load_pickle(path: str) -> Any:
    with open(path, "rb") as f:
        return pickle.load(f)
