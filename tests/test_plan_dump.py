"""tools/plan_dump.py writes comparable dumps (no Spark needed)."""

from __future__ import annotations

import sys

from tests.conftest import TOOLS_DIR

sys.path.insert(0, TOOLS_DIR)

from plan_dump import mask_plan_ids  # noqa: E402


def test_mask_plan_ids_makes_runs_comparable():
    """Two dumps of one plan differ only in the process-global Exchange
    plan ids; masked, they are byte-identical, and nothing else moves."""
    run_a = (
        "Exchange (8)\n"
        "Arguments: hashpartitioning(p#3L, 4), ENSURE_REQUIREMENTS, [plan_id=3227]\n"
        "(12) BroadcastExchange\n"
        "Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=41]\n"
        "ReusedExchange [Reuses operator id: 8]\n"
    )
    run_b = run_a.replace("plan_id=3227", "plan_id=3231").replace(
        "plan_id=41", "plan_id=7"
    )
    assert run_a != run_b
    assert mask_plan_ids(run_a) == mask_plan_ids(run_b)
    masked = mask_plan_ids(run_a)
    assert "[plan_id=N]" in masked and masked.count("plan_id=N") == 2
    assert mask_plan_ids(masked) == masked
    # expression ids and operator ids are plan content, not run noise
    assert "p#3L" in masked and "(8)" in masked and "operator id: 8" in masked
