"""Every package module, and every top-level function in one, must be
reachable from a runtime entry point: the query registry
(``queries.load_all`` and its ``@query`` functions), ``api.py``,
``bench.py``, ``perfbench/*.py``, ``tools/*.py`` or
``__spark_entry__.py``.  Code that only tests reach is code no query
runs, and a second implementation of some concept tends to hide there.
The same holds for a defaulted parameter: one that no entry point sets
is an option only tests cover, so it must be a constant instead.
Spark-free: the import graph and the names each function mentions are
read from the source with ``ast``, nothing is imported."""

from __future__ import annotations

import ast
import functools
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "energy_consumption_forecasting_spark"

# Entry files outside the package: all of their code runs.
SCRIPTS = tuple(
    sorted(
        os.path.relpath(p, REPO)
        for pattern in ("perfbench/*.py", "tools/*.py")
        for p in glob.glob(os.path.join(REPO, pattern))
    )
) + ("bench.py", "__spark_entry__.py")

ROOTS = (f"{PACKAGE}/queries/__init__.py", f"{PACKAGE}/api.py") + SCRIPTS

# Modules kept although no entry point reaches them, one reason each.
EXEMPT: dict[str, str] = {}

# Top-level functions kept although no entry point names them, one
# reason each: a test oracle, or an api.py or tool path.
EXEMPT_FUNCTIONS = {
    f"{PACKAGE}.queries.dedup.dedup_cosine_allpairs": (
        "test oracle: the exact all-pairs cosine reference the banded-LSH "
        "recall test (tests/test_scale_ops.py) compares against"
    ),
}

# Defaulted parameters kept although no entry point sets them, as
# ``module.function(param)``, one reason each in one of three classes:
# public surface (re-exported by the package ``__init__``), deployment
# setting (a timeout or a path), or test seam (the named test needs it
# to reach a branch or boundary the default cannot reach at test size).
_DRAIN = (
    "test seam: {test} drains a split input one file per micro-batch "
    "(multi-batch), which the single-file default input cannot reach"
)
_GLOB = (
    "test seam: {test} reads split part files; the default names the "
    "single-file table"
)
_CKPT = (
    "test seam: {test} restarts a drain from a checkpoint it keeps; "
    "the default checkpoint is private to one call"
)
_STREAMING = f"{PACKAGE}.streaming"
EXEMPT_PARAMS = {
    f"{PACKAGE}.session.get_spark(shuffle_partitions)": (
        "public surface: get_spark is re-exported by the package __init__"
    ),
    f"{PACKAGE}.sources.csv_source.fetch_http_to_stage(timeout)": (
        "deployment setting: the HTTP timeout depends on the remote host"
    ),
    f"{PACKAGE}.sources.tick_datasource.drain_ticks(timeout_s)": (
        "deployment setting: the drain timeout bounds a streaming query "
        "on the host it runs on"
    ),
    f"{PACKAGE}.operators.ann.topk_blocked(rows_per_block)": (
        "test seam: tests/test_scale_ops.py::"
        "test_topk_blocked_large_query_table crosses block boundaries, "
        "which the 4096-row default does not reach at test size"
    ),
    f"{_STREAMING}.anomaly_stream.run_anomaly_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_anomaly_stream.py::"
        "test_split_batches_converge_to_full_result"
    ),
    f"{_STREAMING}.cusum_stream.run_cusum_available_now(glob)": _GLOB.format(
        test="tests/test_cusum_stream.py::test_cusum_multibatch_equals_batch"
    ),
    f"{_STREAMING}.cusum_stream.run_cusum_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_cusum_stream.py::test_cusum_multibatch_equals_batch"
    ),
    f"{_STREAMING}.disagg_stream.run_disagg_daily_available_now(glob)": (
        _GLOB.format(
            test="tests/test_disagg_stream.py::"
            "test_multibatch_daily_state_equals_batch"
        )
    ),
    f"{_STREAMING}.disagg_stream.run_disagg_daily_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_disagg_stream.py::"
        "test_multibatch_daily_state_equals_batch"
    ),
    f"{_STREAMING}.enrich_stream.run_enrich_available_now(glob)": _GLOB.format(
        test="tests/test_enrich_stream.py::test_enrich_split_drain_equals_batch"
    ),
    f"{_STREAMING}.incremental_rollup.run_incremental_rollup(glob)": (
        _GLOB.format(
            test="tests/test_incremental_rollup.py::"
            "test_two_batch_merge_equals_batch_aggregate"
        )
    ),
    f"{_STREAMING}.incremental_rollup.run_incremental_rollup"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_incremental_rollup.py::"
        "test_two_batch_merge_equals_batch_aggregate"
    ),
    f"{_STREAMING}.incremental_rollup.run_incremental_rollup"
    "(checkpoint_dir)": _CKPT.format(
        test="tests/test_incremental_rollup.py::"
        "test_incremental_folds_new_files_once"
    ),
    f"{_STREAMING}.markov_stream.run_markov_available_now(glob)": _GLOB.format(
        test="tests/test_markov_stream.py::test_multibatch_equals_batch"
    ),
    f"{_STREAMING}.markov_stream.run_markov_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_markov_stream.py::test_multibatch_equals_batch"
    ),
    f"{_STREAMING}.minhash_stream.run_minhash_dedup_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_minhash_stream.py::"
        "test_first_writer_wins_across_batches"
    ),
    f"{_STREAMING}.ohlc_stream.run_ohlc_available_now(glob)": _GLOB.format(
        test="tests/test_ohlc_stream.py::test_multibatch_equals_batch"
    ),
    f"{_STREAMING}.ohlc_stream.run_ohlc_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_ohlc_stream.py::test_multibatch_equals_batch"
    ),
    f"{_STREAMING}.source_cap_stream.run_source_cap_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_pipeline_ops.py::"
        "test_stream_source_cap_split_batches_matches_batch"
    ),
    f"{_STREAMING}.source_cap_stream.run_source_cap_available_now"
    "(checkpoint_dir)": _CKPT.format(
        test="tests/test_failure_injection.py::"
        "test_fold_crash_between_snapshot_commit_and_txn_record"
    ),
    f"{_STREAMING}.upsert_stream.run_cdc_upsert_available_now(glob)": (
        _GLOB.format(
            test="tests/test_upsert_stream.py::"
            "test_multibatch_cdc_equals_batch_latest"
        )
    ),
    f"{_STREAMING}.upsert_stream.run_cdc_upsert_available_now"
    "(max_files_per_trigger)": _DRAIN.format(
        test="tests/test_upsert_stream.py::"
        "test_multibatch_cdc_equals_batch_latest"
    ),
    f"{_STREAMING}.upsert_stream.run_cdc_upsert_available_now"
    "(checkpoint_dir)": _CKPT.format(
        test="tests/test_upsert_stream.py::test_replayed_batch_is_noop"
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


@functools.lru_cache(maxsize=None)
def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _imports(path: str) -> set[str]:
    """Package modules ``path`` imports, anywhere in its body."""
    me = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _names(node: ast.AST) -> set[str]:
    """Identifiers the code under ``node`` mentions: variable names,
    attribute names and imported names.  Docstrings are string
    constants and comments are not in the tree, so neither counts."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _is_query(fn: ast.FunctionDef) -> bool:
    """Registered through the ``@query(...)`` decorator."""
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def _reached_functions() -> tuple[set[str], set[str]]:
    """(every top-level function of a reached module, the reached ones),
    as ``module.function``.  A function is reached when an ``@query``
    decorator registers it, or when an entry script, the top-level
    code of a reached module, or a reached function names it."""
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    named: set[str] = set()
    reached: set[str] = set()
    todo: list[ast.AST] = []
    for mod in _reachable():
        for st in _parse(_module_path(mod)).body:
            if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                todo.append(st)
                continue
            qual = f"{mod}.{st.name}"
            defs.setdefault(st.name, []).append((qual, st))
            # decorators and defaults run when the module is imported
            todo += st.decorator_list + st.args.defaults
            todo += [d for d in st.args.kw_defaults if d is not None]
            if _is_query(st):
                reached.add(qual)
                todo.append(st)
    todo += [_parse(os.path.join(REPO, s)) for s in SCRIPTS]
    while todo:
        for name in _names(todo.pop()) - named:
            named.add(name)
            for qual, fn in defs.get(name, ()):
                if qual not in reached:
                    reached.add(qual)
                    todo.append(fn)
    every = {qual for entries in defs.values() for qual, _ in entries}
    return every, reached


def _defaulted_functions() -> dict[str, list[tuple[str, ast.FunctionDef]]]:
    """Top-level package functions with at least one defaulted
    parameter, by bare name -> [(module, def)]."""
    out: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for mod in sorted(_package_modules()):
        for st in _parse(_module_path(mod)).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                st.args.defaults or any(st.args.kw_defaults)
            ):
                out.setdefault(st.name, []).append((mod, st))
    return out


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults) :]] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _set_by(fn: ast.FunctionDef, call: ast.Call) -> set[str]:
    """Parameters of ``fn`` that ``call`` passes: positional arguments
    by position (a ``*args`` from its position on), keyword arguments
    by name, and every parameter for a ``**kwargs``."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    out: set[str] = set()
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            out.update(pos[i:])
            break
        out.update(pos[i : i + 1])
    for kw in call.keywords:
        if kw.arg is None:
            out.update(pos + [p.arg for p in a.kwonlyargs])
        else:
            out.add(kw.arg)
    return out


def _unset_params() -> set[str]:
    """Defaulted parameters, as ``module.function(param)``, that no call
    in a reached module or an entry script passes.  Calls are matched
    to definitions by bare name (``f(...)`` and ``x.f(...)`` alike), so
    a call of a same-named method counts as setting: the scan can miss
    an unset parameter, never flag a set one."""
    defs = _defaulted_functions()
    trees = [_parse(_module_path(m)) for m in sorted(_reachable())]
    trees += [_parse(os.path.join(REPO, s)) for s in SCRIPTS]
    passed: dict[str, set[str]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            for _mod, fn in defs.get(name, ()):
                passed.setdefault(name, set()).update(_set_by(fn, n))
    return {
        f"{mod}.{name}({p})"
        for name, entries in defs.items()
        for mod, fn in entries
        for p in _defaulted(fn)
        if p not in passed.get(name, ())
    }


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


def test_every_package_function_is_reached_from_an_entry_point():
    every, reached = _reached_functions()
    unreached = every - reached - set(EXEMPT_FUNCTIONS)
    assert not unreached, (
        "top-level package functions no entry point reaches (delete "
        f"them, or reach them from a query): {sorted(unreached)}"
    )


def test_function_exemptions_are_still_needed():
    every, reached = _reached_functions()
    stale = sorted(f for f in EXEMPT_FUNCTIONS if f not in every or f in reached)
    assert not stale, (
        f"EXEMPT_FUNCTIONS entries that are gone or now reached: {stale}"
    )


def test_no_unused_top_level_imports():
    """A name a module imports at top level must be used in it: the
    function scan above reads an imported name as a use, so a dead
    import could mark a dead function reached.  ``__init__.py``
    re-exports and ``from __future__`` are exempt."""
    unused = []
    for mod in sorted(_package_modules()):
        path = _module_path(mod)
        if path.endswith("__init__.py"):
            continue
        tree = _parse(path)
        bound: dict[str, int] = {}
        for st in tree.body:
            if isinstance(st, ast.Import):
                for a in st.names:
                    bound[a.asname or a.name.split(".")[0]] = st.lineno
            elif isinstance(st, ast.ImportFrom) and st.module != "__future__":
                for a in st.names:
                    bound[a.asname or a.name] = st.lineno
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        rel = os.path.relpath(path, REPO)
        unused += [f"{rel}:{ln} {name}" for name, ln in bound.items() if name not in used]
    assert not unused, f"unused top-level imports: {unused}"


def test_every_defaulted_parameter_is_set_by_an_entry_point():
    """A defaulted parameter that no entry point sets is an option only
    tests cover: make it a constant (the default, inlined or a module
    constant) and drop the branch it selected."""
    shared = sorted(
        f"{name}: {[m for m, _ in entries]}"
        for name, entries in _defaulted_functions().items()
        if len(entries) > 1
    )
    assert not shared, (
        "top-level functions with defaults share a name, so matching "
        f"calls by bare name would be unsound: {shared}"
    )
    unset = sorted(_unset_params() - set(EXEMPT_PARAMS))
    assert not unset, (
        "defaulted parameters no entry point sets (make them constants, "
        f"or exempt them with a reason): {unset}"
    )


def test_param_exemptions_are_still_needed():
    stale = sorted(set(EXEMPT_PARAMS) - _unset_params())
    assert not stale, (
        f"EXEMPT_PARAMS entries that are gone or now set: {stale}"
    )
