"""The benchmark's own logic: percentile rule, self time, input
determinism, plan-decision counts and the BENCHMARK.json contract."""

import glob
import hashlib
import json
import os
import re

import pytest

from spans import Tracer, plan_decisions
from stats import covered, highest_percentile, percentile, self_time
from synth import TABLES, synthesize
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n,p", [(5, 0), (10, 0), (11, 9), (20, 50), (100, 90), (101, 90), (1000, 99)]
)
def test_highest_percentile_leaves_ten_samples_beyond(n, p):
    assert highest_percentile(n) == p
    if p:
        values = list(range(n))
        assert sum(v > percentile(values, p) for v in values) >= 10
        # one percentile point higher leaves fewer than ten
        assert sum(v > percentile(values, p + 1) for v in values) < 10 or p == 99


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


def test_self_time_counts_overlapping_children_once():
    # children [1,4] and [3,6] overlap on [3,4]; union is [1,6] = 5
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)
    # nested child inside another child adds nothing
    assert self_time(0.0, 10.0, [(1.0, 6.0), (2.0, 3.0)]) == pytest.approx(5.0)
    # children are clipped to the parent
    assert self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)
    assert covered([], 0.0, 1.0) == 0.0


def test_tracer_self_time_from_nested_spans():
    t = Tracer()
    outer = t.open("q", "query")
    inner = t.open("construct", "queries")
    t.close(inner)
    t.close(outer)
    t.spans[outer].start, t.spans[outer].end = 0.0, 4.0
    t.spans[inner].start, t.spans[inner].end = 1.0, 2.5
    assert t.self_time(outer) == pytest.approx(2.5)
    assert t.spans[inner].parent == outer


def _digests(d):
    return {
        os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(d, "*.parquet")))
    }


def test_synthesis_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = synthesize(a, 0.001, 7)
    synthesize(b, 0.001, 7)
    synthesize(c, 0.001, 8)
    assert set(rows) == set(TABLES)
    assert _digests(a) == _digests(b)
    assert len(_digests(a)) == len(TABLES)
    assert _digests(a)["lineitem.parquet"] != _digests(c)["lineitem.parquet"]


def test_synthesis_scales_rows(tmp_path):
    rows = synthesize(str(tmp_path), 0.01, 1)
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000
    assert rows["events"] == 10_000 and rows["documents"] == 500


def test_plan_decisions_counts_operators():
    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=true",
            "+- *(5) BroadcastHashJoin [a#1], [b#2], Inner, BuildRight",
            "   :- *(3) SortMergeJoin [a#1], [c#3], Inner",
            "   :  +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=1]",
            "   +- Window [rank(x#4) windowspecdefinition(x#4 ASC NULLS FIRST) AS r#5], [], [x#4 ASC NULLS FIRST]",
            "      +- Window [sum(y#6) windowspecdefinition(k#7, specifiedwindowframe()) AS s#8], [k#7]",
            "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]",
        ]
    )
    d = plan_decisions(plan)
    assert d["spark.joins_broadcast"] == 1
    assert d["spark.joins_sort_merge"] == 1
    assert d["spark.joins_shuffled_hash"] == 0
    assert d["spark.exchanges"] == 2
    assert d["spark.single_partition_windows"] == 1


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_and_keys():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"]] + [m["name"] for m in b["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(set(w) == {"name", "why"} for w in b["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_benchmark_json_matches_workload_definitions():
    b = _bench()
    assert {w["name"]: w["why"] for w in b["workloads"]} == {
        k: w.why for k, w in WORKLOADS.items()
    }


def test_every_layer_metric_names_what_it_should_move():
    b = _bench()
    e2e = {m["name"] for m in b["end_to_end"]}
    workloads = {w["name"] for w in b["workloads"]}
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        groups = json.load(f)["layers"]
    mapped = {}
    for g in groups:
        assert g["moves"] and set(g["moves"]) <= e2e
        assert g["on"] and set(g["on"]) <= workloads
        assert set(g["not_on"]) <= workloads and not set(g["on"]) & set(g["not_on"])
        for m in g["metrics"]:
            assert m not in mapped
            mapped[m] = g
    assert set(mapped) == {m["name"] for m in b["per_layer"]}
