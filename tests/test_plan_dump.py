"""tools/plan_dump.py writes comparable dumps (no Spark needed)."""

from __future__ import annotations

import sys

from tests.conftest import TOOLS_DIR

sys.path.insert(0, TOOLS_DIR)

from plan_dump import mask_plan_ids  # noqa: E402

RUN_A = (
    "Exchange (8)\n"
    "Arguments: hashpartitioning(p#3L, 4), ENSURE_REQUIREMENTS, [plan_id=3227]\n"
    "(12) BroadcastExchange\n"
    "Input [2]: [p#3L, cnt#17]\n"
    "Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=41]\n"
    "ReusedExchange [Reuses operator id: 8]\n"
    "Scan ExistingRDD MapPartitionsRDD[291]\n"
    "Output [1]: [transform(v#9, lambdafunction((lambda x_4#21 * lambda x_4#21),"
    " lambda x_4#21, false)) AS sq#22]\n"
)


def test_mask_plan_ids_makes_runs_comparable():
    """Two dumps of one plan differ only in the process-global Exchange
    plan ids; masked, they are byte-identical, and nothing else moves."""
    run_b = RUN_A.replace("plan_id=3227", "plan_id=3231").replace(
        "plan_id=41", "plan_id=7"
    )
    assert RUN_A != run_b
    assert mask_plan_ids(RUN_A) == mask_plan_ids(run_b)
    masked = mask_plan_ids(RUN_A)
    assert "[plan_id=N]" in masked and masked.count("plan_id=N") == 2
    assert mask_plan_ids(masked) == masked
    # operator ids are plan content, not run noise
    assert "(8)" in masked and "operator id: 8" in masked


def test_mask_plan_ids_renumbers_expression_and_rdd_ids():
    """Expression, RDD and lambda variable ids shifted by a constant
    offset (a later query in the same process) mask to the same text,
    renumbered by first appearance."""
    shifted = RUN_A
    for old, new in (("#3L", "#54L"), ("#17", "#68"), ("#9", "#60"),
                     ("#21", "#72"), ("#22", "#73"), ("RDD[291]", "RDD[342]"),
                     ("x_4#", "x_28#")):
        shifted = shifted.replace(old, new)
    assert mask_plan_ids(RUN_A) == mask_plan_ids(shifted)
    masked = mask_plan_ids(shifted)
    assert "p#0L, 4" in masked and "[p#0L, cnt#1]" in masked
    assert "MapPartitionsRDD[0]" in masked
    assert "(lambda x_0#3 * lambda x_0#3)" in masked


def test_mask_plan_ids_keeps_which_references_share_an_id():
    """Renumbering keeps equal ids equal and distinct ids distinct: a
    dump whose ``cnt`` reuses ``p``'s id is a different plan."""
    aliased = RUN_A.replace("cnt#17", "cnt#3L")
    assert mask_plan_ids(RUN_A) != mask_plan_ids(aliased)
