"""The benchmark's workloads: which registered queries run, on inputs
synthesized at which scale factor, and why each workload exists.

A run has to fit in under a minute: JVM start, a cold warm-up pass
that doubles as the output check, a second warm-up pass, then timed
passes.  So each workload is a handful of queries and a few seconds per
pass on ``local[4]``; every distinct query adds its first-time
compilation to the set-up.  The two workloads split the engine's costs
into fixed per-query costs (``adhoc``: construction, planning,
scheduling, driver-side loops, stream micro-batches) and data-volume
costs (``scale``), so an optimization of one shows on one workload and
is predicted not to move the other.

Queries that write to fixed absolute paths are left out: a run may
write only inside its checkout.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    "adhoc": Workload(
        sf=0.01,
        queries=(
            "tpch_q1_pricing_summary",
            "w18_disaggregation",
            "dedup_exact",
            "m9_ar_forecast",
            "graph_pagerank",
            "stream_source_cap",
        ),
        why=(
            "Tiny sf0.01 inputs, so fixed costs dominate: py4j construction, planning, "
            "job scheduling, driver-side loop rounds and stream micro-batch overheads."
        ),
    ),
    "scale": Workload(
        sf=0.1,
        queries=(
            "a_basket_pairs",
            "dedup_minhash_lsh",
            "w3_time_sort_rank",
            "w_funnel_conversion",
        ),
        why=(
            "Ten times the data (sf0.1): executor-bound shuffle, sort, explode and "
            "self-join; construction-side gains should not move it."
        ),
    ),
}

# Modules of the query registry that stage fixtures under a fixed
# absolute path when imported; none of their queries is in a workload.
SKIPPED_QUERY_MODULES = ("pipelines_gate", "sources_gate")
