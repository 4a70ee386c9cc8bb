"""Every package module must be reachable from a runtime entry point:
the query registry (``queries.load_all``), ``api.py``, ``bench.py``,
``perfbench/workloads.py`` or ``__spark_entry__.py``.  A module that only
tests import is code no query runs, and a second implementation of some
concept tends to hide there.  Spark-free: the import graph is read from
the source with ``ast`` (imports inside functions count), nothing is
imported."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "energy_consumption_forecasting_spark"

ROOTS = (
    f"{PACKAGE}/queries/__init__.py",
    f"{PACKAGE}/api.py",
    "bench.py",
    "perfbench/workloads.py",
    "__spark_entry__.py",
)

# Modules kept although no entry point reaches them, one reason each.
EXEMPT = {
    f"{PACKAGE}.sources.ann_index": (
        "the persisted quantized-ANN index (build, save, search); its "
        "committed fixture pins backward-compatible search of an index "
        "built by an earlier version"
    ),
    f"{PACKAGE}.streaming.ann_ingest": (
        "the persisted index's streaming ingest, an exactly-once "
        "fold_available_now sink"
    ),
    f"{PACKAGE}.plans.dataset_assembly": (
        "the reference's EP2 modeling-dataset assembly (hourly balance, "
        "monthly fuel consumption and daily weather joined into the daily "
        "training set), pinned by tests/test_pipelines.py"
    ),
}


def _module_name(path: str) -> str | None:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[0] != PACKAGE:
        return None
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _module_path(name: str) -> str | None:
    base = os.path.join(REPO, *name.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` runs ``a``, ``a.b`` and ``a.b.c``."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(path: str) -> set[str]:
    """Package modules ``path`` imports, anywhere in its body."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    me = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = me.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            # ``from pkg import name`` imports ``pkg.name`` when that is a module
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name.split(".")[0] == PACKAGE and _module_path(name):
                out.update(n for n in _with_parents(name) if _module_path(n))
    return out


def _package_modules() -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        for f in files:
            if f.endswith(".py"):
                out.add(_module_name(os.path.join(root, f)))
    return out


def _reachable() -> set[str]:
    seen: set[str] = set()
    todo = [os.path.join(REPO, r) for r in ROOTS]
    for r in todo:
        name = _module_name(r)
        if name:
            seen.update(_with_parents(name))
    todo += [_module_path(n) for n in seen]
    done: set[str] = set()
    while todo:
        path = todo.pop()
        if path in done:
            continue
        done.add(path)
        for name in _imports(path) - seen:
            seen.add(name)
            todo.append(_module_path(name))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _package_modules() - _reachable() - set(EXEMPT)
    assert not unreached, (
        "package modules no entry point imports (delete them, or reach "
        f"them from a query): {sorted(unreached)}"
    )


def test_exemptions_are_still_needed():
    modules = _package_modules()
    reached = _reachable()
    stale = sorted(m for m in EXEMPT if m not in modules or m in reached)
    assert not stale, f"EXEMPT entries that are gone or now reached: {stale}"
