"""Output check, run once per benchmark run outside the timed region.

A query with a DuckDB oracle is compared to it on the run's own inputs,
with the row canonicalization of ``tools/check_parity.py`` (floats to 9
significant digits, rows sorted).  A query without one is run on the
fixed check inputs (``CHECK_SEED``) and its canonical rows are hashed
and compared to the digest recorded in ``digests.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
CHECK_SEED = 0


def _canon_rows():
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    try:
        from check_parity import canon_rows
    finally:
        sys.path.pop(0)
    return canon_rows


def duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_rows(query, spark, data_dir: str):
    df = query(spark, data_dir)
    return [c.lower() for c in df.columns], [tuple(r) for r in df.collect()]


def digest(cols, rows) -> str:
    _, canon = _canon_rows()(cols, rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in canon:
        h.update(json.dumps(row).encode())
    return h.hexdigest()


def load_digests(workload: str) -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f).get(workload, {})


def check_queries(spark, queries, oracles, names, data_dir, check_dir, tables, workload):
    """Returns ``({name: None | reason}, seconds spent in the oracles)``;
    a reason marks a failure."""
    canon_rows = _canon_rows()
    digests = load_digests(workload)
    con = duckdb_views(data_dir, tables)
    out: dict[str, str | None] = {}
    oracle_s = 0.0
    try:
        for name in names:
            try:
                if name in oracles:
                    cols, rows = spark_rows(queries[name], spark, data_dir)
                    t0 = time.perf_counter()
                    res = con.execute(oracles[name])
                    dcols = [d[0].lower() for d in res.description]
                    drows = res.fetchall()
                    oracle_s += time.perf_counter() - t0
                    if sorted(cols) != sorted(dcols):
                        out[name] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
                    elif canon_rows(cols, rows)[1] != canon_rows(dcols, drows)[1]:
                        out[name] = f"values differ from oracle ({len(rows)} vs {len(drows)} rows)"
                    else:
                        out[name] = None
                else:
                    got = digest(*spark_rows(queries[name], spark, check_dir))
                    want = digests.get(name)
                    out[name] = None if got == want else f"digest {got[:12]} != recorded {str(want)[:12]}"
            except Exception:
                out[name] = "raised: " + traceback.format_exc(limit=3)
    finally:
        con.close()
    return out, oracle_s


def record_digests() -> None:
    """Rewrite ``digests.json`` from the current code: the digest of
    every oracle-less workload query on its workload's check inputs.
    Run after a change that is meant to alter such a query's output:
    ``python3 perfbench/check.py``."""
    import tempfile

    import run
    from synth import synthesize
    from workloads import WORKLOADS

    parent = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix="digests_", dir=parent)
    run.pin_environment(work)
    from energy_consumption_forecasting_spark import get_spark

    spark = get_spark("perfbench-digests", extra_conf=run.spark_conf(work))
    try:
        queries, oracles = run.load_registry()
        out = {}
        for wl_name, wl in sorted(WORKLOADS.items()):
            names = [n for n in wl.queries if n not in oracles]
            if not names:
                continue
            check_dir = os.path.join(work, f"check-{wl.sf}")
            synthesize(check_dir, wl.sf, CHECK_SEED)
            out[wl_name] = {n: digest(*spark_rows(queries[n], spark, check_dir)) for n in names}
        with open(DIGESTS, "w") as f:
            json.dump(out, f, indent=2, sort_keys=True)
            f.write("\n")
    finally:
        run.stop_spark(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    record_digests()
