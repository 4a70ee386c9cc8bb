"""Dump explain("formatted") for queries WITHOUT executing them —
plan evidence for before/after snapshots from any git state,
independent of host load.

Exchange ``[plan_id=N]`` values, expression ids (``name#N``), RDD ids
(``RDD[N]``) and lambda variable suffixes (``lambda x_N``) come from
process-global counters, so they differ between runs of the same code;
every dump masks plan ids as ``plan_id=N`` and renumbers the other
three by first appearance, so two dumps of one plan compare byte for
byte while ids that are equal stay equal.

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
# (kept prefix, counter) per kind of process-global id
_COUNTED_IDS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(RDD\[)(\d+)(?=\])"),
    re.compile(r"(\blambda [A-Za-z]\w*?_)(\d+)\b"),
)


def mask_plan_ids(plan: str) -> str:
    """Replace every run-dependent ``plan_id=<digits>`` with ``plan_id=N``
    and renumber ``#<n>`` expression ids, ``RDD[<n>]`` ids and the
    ``<name>_<n>`` suffixes of lambda variables, each kind from 0 in
    order of first appearance."""
    plan = _PLAN_ID.sub("plan_id=N", plan)
    for pattern in _COUNTED_IDS:
        seen: dict[str, str] = {}
        plan = pattern.sub(
            lambda m: m[1] + seen.setdefault(m[2], str(len(seen))), plan
        )
    return plan


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
