"""Tracing for the benchmark's traced runs.

Spans are kept in memory and turned into per-layer figures after each
pass, so no status-store or listener work happens inside a timed pass:

* the benchmark opens spans for the pass, each query, its construction
  and its noop write;
* ``install_layer_wrappers`` replaces the public functions of the
  engine's layer modules (``session``, ``tables``, ``operators``,
  ``ml``, ``plans``, ``streaming``) with ``Traced`` callables that open
  a span per call, in every module that bound them by name;
* a ``QueryExecutionListener`` and a ``StreamingQueryListener``
  (py4j callbacks) record every SQL execution's planning phases and
  executed plan, and every micro-batch's progress, stamped with JVM
  wall-clock times;
* after the pass the listener bus is drained and jobs, stages, SQL
  executions and micro-batches are attributed to queries by their
  timestamps (job groups are thread-local and would miss the
  micro-batches a stream drain runs on its own thread).
"""

from __future__ import annotations

import copy
import functools
import inspect
import re
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from stats import self_time

PACKAGE = "energy_consumption_forecasting_spark"
LAYERS = ("session", "tables", "operators", "ml", "plans", "streaming")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int = -1
    children: list[int] = field(default_factory=list)
    py4j_calls: int = 0


class Tracer:
    """Spans of one pass; ``open``/``close`` nest on a stack because a
    single client thread runs the workload."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self.footer_reads = 0

    def open(self, name: str, layer: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.time(), parent=parent))
        self.spans[idx].py4j_calls = -self.py4j_calls
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.time()
        span.py4j_calls += self.py4j_calls
        # a layer call that raised may leave deeper spans open
        while self.stack and self.stack.pop() != idx:
            pass

    @contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield idx
        finally:
            self.close(idx)

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return self_time(
            s.start, s.end, [(self.spans[c].start, self.spans[c].end) for c in s.children]
        )

    def reset(self) -> None:
        self.spans.clear()
        self.stack.clear()


ACTIVE: Tracer | None = None


def span(tracer: Tracer | None, name: str, layer: str):
    """``tracer.span(...)``, or nothing when the run is untraced."""
    return nullcontext() if tracer is None else tracer.span(name, layer)


class Traced:
    """A layer function that opens a span per call while a tracer is
    active.  Pickles as the function it wraps, so a wrapped function
    shipped to a Python worker inside a UDF runs bare there."""

    def __init__(self, fn, layer: str) -> None:
        functools.update_wrapper(self, fn)
        self.fn = fn
        self.layer = layer

    def __call__(self, *args, **kwargs):
        tracer = ACTIVE
        if tracer is None:
            return self.fn(*args, **kwargs)
        idx = tracer.open(self.__name__, self.layer)
        try:
            return self.fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    def __reduce__(self):
        # ``copy.copy`` of a function is the function itself
        return (copy.copy, (self.fn,))


def _layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


def install_layer_wrappers() -> int:
    """Wrap every public function defined in a layer module, wherever a
    module of the package bound it; returns the number of functions."""
    modules = [
        m for n, m in list(sys.modules.items()) if m is not None and n.split(".")[0] == PACKAGE
    ]
    wrapped: dict[int, Traced] = {}
    for mod in modules:
        layer = _layer_of(mod.__name__)
        if layer is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
            ):
                wrapped[id(obj)] = Traced(obj, layer)
    for mod in modules:
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and w.fn is obj:
                setattr(mod, attr, w)
    return len(wrapped)


def count_py4j_calls(gateway_client) -> None:
    """Count every py4j round trip of the driver into ``ACTIVE``."""
    send = gateway_client.send_command

    def counted(*args, **kwargs):
        if ACTIVE is not None:
            ACTIVE.py4j_calls += 1
        return send(*args, **kwargs)

    gateway_client.send_command = counted


def count_footer_reads() -> None:
    """Count parquet footer reads made on the driver (schema probes)."""
    import pyarrow.parquet as pq

    for name in ("read_schema", "read_metadata"):
        orig = getattr(pq, name)

        def counted(*args, __orig=orig, **kwargs):
            if ACTIVE is not None:
                ACTIVE.footer_reads += 1
            return __orig(*args, **kwargs)

        setattr(pq, name, counted)


JOIN_NODES = {
    "spark.joins_broadcast": ("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
    "spark.joins_shuffled_hash": ("ShuffledHashJoin",),
    "spark.joins_sort_merge": ("SortMergeJoin",),
}


# tree prefix, optional whole-stage-codegen id, node name
_NODE = re.compile(r"[\s:+\-*]*(?:\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_decisions(plan: str) -> dict[str, int]:
    """Counts of the cost-relevant operators in an executed-plan tree
    string: join strategies, shuffle exchanges, and windows without a
    partition spec (which run in a single task).  Of an adaptive plan
    only the final plan counts."""
    plan = plan.split("== Initial Plan ==", 1)[0]
    out = {k: 0 for k in JOIN_NODES}
    out["spark.exchanges"] = 0
    out["spark.single_partition_windows"] = 0
    for line in plan.splitlines():
        node = _NODE.match(line)
        if node is None:
            continue
        head, args = node.group(1), line[node.end():]
        for metric, names in JOIN_NODES.items():
            out[metric] += head in names
        out["spark.exchanges"] += head == "Exchange"
        if head == "Window" and _bracket_groups(args)[1:2] == [""]:
            out["spark.single_partition_windows"] += 1
    return out


def _bracket_groups(args: str) -> list[str]:
    """Top-level ``[...]`` groups of ``Window [exprs], [partitionSpec],
    [orderSpec]``, stripped."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch == "[":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(args[start:i].strip())
    return groups


class SparkRecorder:
    """Driver-side records of the JVM's work: SQL executions through a
    ``QueryExecutionListener``, micro-batches through a
    ``StreamingQueryListener``, jobs and stages from the status store.
    Listener callbacks arrive on py4j threads and only append."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.executions: list[dict] = []
        self.batches: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        recorder = self

        class _ExecListener:
            def onSuccess(self, func_name, qe, duration_ns):
                recorder._on_execution(qe)

            def onFailure(self, func_name, qe, exception):
                recorder._on_execution(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                recorder._on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._exec_listener = _ExecListener()
        spark._jsparkSession.listenerManager().register(self._exec_listener)
        spark.streams.addListener(_StreamListener())

    def _on_execution(self, qe) -> None:
        phases = qe.tracker().phases()
        it = phases.iterator()
        start, plan_ms = None, 0
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            plan_ms += summary.durationMs()
            s = summary.startTimeMs()
            start = s if start is None else min(start, s)
        rec = {"start": (start or 0) / 1000.0, "plan_ms": plan_ms}
        rec.update(plan_decisions(qe.executedPlan().toString()))
        self.executions.append(rec)

    def _on_progress(self, p) -> None:
        from datetime import datetime

        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        d = p.durationMs
        self.batches.append(
            {
                "start": ts,
                "input_rows": p.numInputRows,
                "add_batch_ms": d.get("addBatch", 0),
                "wal_commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
        )

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> list[dict]:
        """Job and stage metrics of jobs ``first..end-1``; a stage shared
        by several jobs counts once, under the first."""
        store = self.jsc.statusStore()
        seen: set[int] = set()
        out = []
        for job_id in range(first, end):
            try:
                job = store.job(job_id)
            except Exception:  # evicted or never registered
                continue
            rec = {
                "start": job.submissionTime().get().getTime() / 1000.0,
                "stages": 0,
                "skipped_stages": job.numSkippedStages(),
                "tasks": job.numCompletedTasks(),
                "failed_tasks": job.numFailedTasks(),
            }
            for k in STAGE_FIELDS:
                rec[k] = 0
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                rec["stages"] += 1
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                for k, getter in STAGE_FIELDS.items():
                    rec[k] += getter(st)
            out.append(rec)
        return out


STAGE_FIELDS = {
    "spark.executor_run_ms": lambda s: s.executorRunTime(),
    "spark.executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "spark.jvm_gc_ms": lambda s: s.jvmGcTime(),
    "spark.task_deserialize_ms": lambda s: s.executorDeserializeTime(),
    "spark.shuffle_read_bytes": lambda s: s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead(),
    "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spark.shuffle_fetch_wait_ms": lambda s: s.shuffleFetchWaitTime(),
    "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "spark.input_bytes": lambda s: s.inputBytes(),
}
