"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same configs apply (AQE, Arrow, sensible shuffle partitioning) — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Optimizer tuning applied to every session (including externally
# supplied ones via ensure_utc).  Both are workload-measured fixes:
#
# * InferFiltersFromGenerate inlines the full generator expression into
#   inferred filters; with higher-order-function shingle pipelines that
#   re-evaluates an interpreted ~250-element array transform 2-3× per
#   row (measured 8.6s → 0.6s on the sf0.1 dedup explode).
# * Constraint propagation goes near-exponential on arithmetic filters
#   that reference both sides of a join (the Jaccard threshold filter:
#   measured 11.8s → 2.9s); Spark docs recommend disabling it for
#   optimizer-time blowups (SPARK-19846 lineage).
_OPTIMIZER_TUNING: dict[str, str] = {
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.constraintPropagation.enabled": "false",
}


def get_spark(
    app_name: str = "ecf-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    * AQE on: runtime partition coalescing + skew-join splitting, which is
      what makes a static ``spark.sql.shuffle.partitions`` safe at any SF.
    * Arrow on: pandas UDF / toPandas interop is batched, not per-row.
    * UTC session timezone: timestamp→date semantics must not depend on
      the host machine's zone.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _OPTIMIZER_TUNING.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Normalize an externally supplied session (the driver hands our
    ``queries()`` callables an arbitrary one).

    UTC timestamps: date-truncation results must not depend on the host
    timezone.  Plus the measured optimizer tunings above — all
    semantically neutral.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in _OPTIMIZER_TUNING.items():
        spark.conf.set(k, v)
    return spark


def broadcast_budget(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    as the planner reads it (size suffixes resolved); -1 means nothing
    fits.  Operators compare it with a frame's exact size to choose a
    single-task tier while the plan is built, without running a job."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


@contextmanager
def loop_shuffle_width(spark: SparkSession, n_rows: int, rows_per_task: int):
    """Pin ``spark.sql.shuffle.partitions`` to a data-sized width for an
    iterative loop, restoring the session value on exit.

    Iterative operators (PageRank, connected components, BPE merge
    learning) run many tiny shuffle jobs over loop-state tables that
    are far smaller than the corpus — N rounds of 32 near-empty
    reducers is pure scheduling floor at gate SF, while a 100-TB input
    still gets the session's full width through the ``min``.  Yields
    the chosen width (``max(4, min(session, n_rows//rows_per_task
    + 1))``) so callers can also use it for explicit repartitions."""
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loop_n = max(4, min(shuffle_n, int(n_rows) // rows_per_task + 1))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_n))
        yield loop_n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_n))


@contextmanager
def aqe_disabled(spark: SparkSession):
    """Disable adaptive query execution for a fixed-iteration loop,
    restoring the session value on exit.

    Inside an iterative operator every round's plan is already known
    (pinned loop width, explicit broadcast hints, persisted static
    side): AQE contributes only its re-planning latency — each round's
    shuffle/broadcast triggers a fresh adaptive re-optimization and an
    extra job boundary on the driver, which at gate SF was measured as
    ~2x of the whole loop's wall-clock (pagerank 10 rounds: ~2.7s AQE
    on vs ~1.4s off at sf0.1).  At 100 TB the loop state tables stay
    node-sized and uniformly keyed, so the skew/coalesce features AQE
    would add are not load-bearing there either.

    NOTE: only execution that HAPPENS inside the context is affected —
    callers must materialize the loop (eager checkpoint of the final
    state) before exiting, or the tail of the lazy chain runs under
    the session's AQE at action time.

    Thread-safety: adaptive.enabled is SESSION-GLOBAL conf with no
    per-thread scoping, so the save/restore assumes no concurrent
    toggling on the same session.  Construction-time uses go through
    queries/_util._pure_compilation, which serializes with a lock;
    direct uses wrap a whole iterative EXECUTION (seconds), where
    holding a lock would serialize unrelated queries — callers running
    iterative operators from multiple threads on one session must
    accept AQE-off leaking into concurrently-planned stages (harmless
    for correctness, plans are just non-adaptive) or use separate
    sessions."""
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
