"""Every ``tests/conftest.py::SLOW_NODE_IDS`` entry must name a test
that exists.  A renamed or deleted test leaves a stale id behind, and
the slow test under its new name silently joins the default profile.
Spark-free: the test files are parsed, not imported."""

from __future__ import annotations

import ast
import os

from tests.conftest import SLOW_NODE_IDS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _resolves(path: str, names: list[str]) -> bool:
    """Does ``path::a::b`` name a module-level function (or a method of
    a module-level class)?  Parametrize suffixes (``[...]``) are
    dropped."""
    full = os.path.join(REPO, path)
    if not os.path.isfile(full):
        return False
    with open(full) as f:
        body = ast.parse(f.read(), filename=full).body
    *owners, func = [n.split("[", 1)[0] for n in names]
    for owner in owners:
        cls = [n for n in body if isinstance(n, ast.ClassDef) and n.name == owner]
        if not cls:
            return False
        body = cls[0].body
    return any(
        isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == func
        for n in body
    )


def test_slow_node_ids_name_existing_tests():
    stale = []
    for nid in sorted(SLOW_NODE_IDS):
        path, *names = nid.split("::")
        if not _resolves(path, names):
            stale.append(nid)
    assert not stale, f"SLOW_NODE_IDS entries with no matching test: {stale}"
