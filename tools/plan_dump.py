"""Dump explain("formatted") for queries WITHOUT executing them —
plan evidence for before/after snapshots from any git state,
independent of host load.

Exchange ``[plan_id=N]`` values come from a process-global counter, so
they differ between runs of the same code; every dump writes them
masked as ``plan_id=N`` so two dumps compare byte for byte.

Usage:
    python tools/plan_dump.py --tag before [--sf DIR] [--out DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

_PLAN_ID = re.compile(r"plan_id=\d+")


def mask_plan_ids(plan: str) -> str:
    """Replace every run-dependent ``plan_id=<digits>`` with ``plan_id=N``."""
    return _PLAN_ID.sub("plan_id=N", plan)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "r10"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from energy_consumption_forecasting_spark import get_spark
    from energy_consumption_forecasting_spark.queries import load_all

    spark = get_spark("plan-dump")
    qs, _ = load_all()
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(mask_plan_ids(plan))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
