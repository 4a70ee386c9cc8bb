"""Local correctness harness mimicking the driver's gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given SF, then compares row count, column-name set, and an
order-insensitive canonicalized value comparison (floats rounded to 9
significant digits; rows sorted).

Usage:
    python tools/check_parity.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


STRICT = False


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        # strict: shortest round-trip repr — distinct doubles stay distinct,
        # mimicking the driver's exact value hash.
        return repr(v) if STRICT else f"{v:.9g}"
    # decimals, dates, ints, strings → str
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon_cell(r[i]) for i in order))
    out.sort()
    return [c for _, c in sorted(zip(range(len(cols)), [cols[i] for i in order]))], out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (driver-like) instead of get_spark()",
    )
    ap.add_argument(
        "--strict",
        action="store_true",
        help="compare floats bit-exactly (full repr) like the driver hash",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    global STRICT
    STRICT = args.strict

    import duckdb

    import __spark_entry__ as entrymod
    from energy_consumption_forecasting_spark import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or sorted(qs)

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]").appName("vanilla-parity").getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    failures: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue

        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(c.lower() for c in dcols) and sorted(
            c.lower() for c in scols
        ) != sorted(c.lower() for c in dcols):
            ok = False
            msgs.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            _, sc = canon_rows([c.lower() for c in scols], [tuple(r) for r in srows])
            _, dc = canon_rows([c.lower() for c in dcols], drows)
            if sc != dc:
                ok = False
                diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if ok:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
            failures.append(name)

    print(f"\n== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail ==")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
