"""The traced run: untraced passes for half of the time, then traced
passes, and the per-layer metrics of the traced passes (medians over
passes of per-pass totals)."""

from __future__ import annotations

import json
import os
import statistics

import spans as sp

COUNTS = ("spark.jobs", "spark.stages", "spark.skipped_stages", "spark.tasks", "spark.failed_tasks")
STREAM_FIELDS = (
    "input_rows",
    "add_batch_ms",
    "wal_commit_ms",
    "query_planning_ms",
    "state_rows",
    "state_commit_ms",
)
PLAN_FIELDS = tuple(sp.JOIN_NODES) + ("spark.exchanges", "spark.single_partition_windows")


def _within(t: float, s: sp.Span) -> bool:
    return s.start <= t <= s.end


def pass_metrics(tracer: sp.Tracer, jobs: list[dict], execs: list[dict], batches: list[dict]) -> dict:
    """Per-layer totals of one traced pass from its spans and the JVM
    records attributed to it."""
    spans = tracer.spans
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    pass_span = spans[0]
    constructs = [s for s in spans if s.layer == "queries"]
    covered = 0.0
    for i, s in enumerate(spans):
        if s.layer in ("pass", "query"):
            continue
        own = tracer.self_time(i)
        covered += own
        if s.layer == "queries":
            add("queries.construct_s", own)
            add("queries.py4j_calls", s.py4j_calls)
        elif s.layer == "spark":
            plan = min(own, sum(e["plan_ms"] for e in execs if _within(e["start"], s)) / 1000.0)
            add("spark.plan_s", plan)
            add("spark.exec_s", own - plan)
        else:
            add(f"{s.layer}.calls", 1)
            add(f"{s.layer}.call_s", own)
            if s.layer == "tables" and s.name == "load_table":
                add("tables.load_table_calls", 1)
                add("tables.load_table_s", own)
    m["streaming.drain_s"] = m.pop("streaming.call_s", 0.0)
    m.pop("streaming.calls", None)
    for k in ("tables.calls", "tables.call_s", "session.calls", "session.call_s"):
        m.pop(k, None)
    m["tables.footer_reads"] = tracer.footer_reads
    loads = m.get("tables.load_table_calls", 0)
    m["tables.footer_reads_per_load"] = tracer.footer_reads / loads if loads else 0.0

    m["queries.construct_jobs"] = sum(
        1 for j in jobs if any(_within(j["start"], c) for c in constructs)
    )
    for k in COUNTS:
        m[k] = 0
    for k in sp.STAGE_FIELDS:
        m[k] = 0
    for j in jobs:
        m["spark.jobs"] += 1
        for k in COUNTS[1:]:
            m[k] += j[k.split(".", 1)[1]]
        for k in sp.STAGE_FIELDS:
            m[k] += j[k]
    m["spark.skipped_stage_share"] = (
        m["spark.skipped_stages"] / m["spark.stages"] if m["spark.stages"] else 0.0
    )
    for k in PLAN_FIELDS:
        m[k] = sum(e[k] for e in execs)
    m["streaming.batches"] = len(batches)
    for k in STREAM_FIELDS:
        m[f"streaming.{k}"] = sum(b[k] for b in batches)
    duration = pass_span.end - pass_span.start
    m["trace.pass_s"] = duration
    m["trace.covered_share"] = covered / duration
    return m


def traced_passes(bench, seconds: float):
    plain_pass_s, _, _ = bench.passes(seconds / 2)

    sp.install_layer_wrappers()
    sp.count_py4j_calls(bench.spark.sparkContext._gateway._gateway_client)
    sp.count_footer_reads()
    rec = sp.SparkRecorder(bench.spark)
    tracer = sp.Tracer()
    per_pass: list[dict] = []
    kept_spans: list[list[dict]] = []
    state: dict = {}

    def on_pass(event: str) -> None:
        if event == "start":
            rec.drain()
            tracer.reset()
            tracer.py4j_calls = tracer.footer_reads = 0
            state.update(
                job=rec.next_job_id(), execs=len(rec.executions), batches=len(rec.batches)
            )
            sp.ACTIVE = tracer
            state["pass"] = tracer.open("pass", "pass")
            return
        tracer.close(state["pass"])
        sp.ACTIVE = None
        rec.drain()
        jobs = rec.jobs(state["job"], rec.next_job_id())
        per_pass.append(
            pass_metrics(
                tracer, jobs, rec.executions[state["execs"]:], rec.batches[state["batches"]:]
            )
        )
        kept_spans.append([vars(s).copy() for s in tracer.spans])

    traced_pass_s, _, _ = bench.passes(
        seconds / 2,
        on_query=lambda name: bench.run_query(name, tracer=tracer),
        on_pass=on_pass,
    )
    keys = sorted({k for m in per_pass for k in m})
    medians = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    medians["session.start_s"] = bench.session_start_s
    out_dir = os.path.join(os.path.dirname(bench.work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{bench.args.workload}-seed{bench.args.seed}.json"), "w") as f:
        json.dump({"passes": kept_spans, "per_pass": per_pass}, f)
    units = _units()
    metrics = {k: {"value": medians.get(k, 0.0), "unit": u} for k, u in units.items()}
    info = {
        "untraced_passes": len(plain_pass_s),
        "traced_passes": len(traced_pass_s),
        "untraced_pass_s": statistics.median(plain_pass_s),
        "traced_pass_s": medians["trace.pass_s"],
        "trace_overhead_s": medians["trace.pass_s"] - statistics.median(plain_pass_s),
        "covered_share": medians["trace.covered_share"],
    }
    return metrics, info


def _units() -> dict[str, str]:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
