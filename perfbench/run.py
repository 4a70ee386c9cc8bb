"""Repository benchmark: runs one workload of registered queries on a
pinned ``local[<nproc>]`` session and prints its metrics.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Load model: closed loop, one client.  A single driver thread runs the
workload's queries back to back, each constructed through the query
registry and executed into Spark's ``noop`` sink, in an order drawn
from the seed for every pass.  Set-up (session start, seeded input
synthesis and two warm-up passes that fill JIT and session caches) is
timed as ``setup_s``; the first warm-up pass checks the output of every
query.  Passes are then run until ``--seconds`` have elapsed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs half of
the time untraced and half traced and prints the per-layer metrics
(see ``perfbench/layers.json`` for what each should move).  Everything
the run writes goes under ``.perfbench_work/`` in the checkout and is
removed at exit.  The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import highest_percentile, percentile  # noqa: E402
from workloads import SKIPPED_QUERY_MODULES, WORKLOADS  # noqa: E402

PACKAGE = "energy_consumption_forecasting_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Everything the run (and the JVM and Python workers it starts)
    writes goes under ``work``; the session is ``local[<nproc>]``
    whatever ``SPARK_GRAFT_CPUS`` the caller had."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONHASHSEED"] = "0"
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the checkout and write no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def load_registry():
    """The query registry, populated by importing every query module
    except those that write fixtures outside the checkout on import."""
    import importlib
    import pkgutil

    from energy_consumption_forecasting_spark import queries as registry

    for mod in pkgutil.iter_modules(registry.__path__):
        if mod.name not in SKIPPED_QUERY_MODULES:
            importlib.import_module(f"{registry.__name__}.{mod.name}")
    return registry.QUERIES, registry.ORACLES


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def peak_rss_mb(jvm_pid: int) -> float:
    """``VmHWM`` of this process plus the JVM it started."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class Bench:
    def __init__(self, args, work: str) -> None:
        import numpy as np

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.rng = np.random.default_rng([args.seed, 1])
        self.spark = None
        self.session_start_s = 0.0
        self.data_dir = ""
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.correct = False

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Session start, seeded input synthesis and two warm-up passes
        that fill JIT, codegen and session caches.  The first warm-up
        pass is the output check, so the check costs no extra pass; the
        time spent in the oracles and on the check inputs is not set-up.
        Most of the set-up is the JVM start and first-time compilation,
        which happen once per process, so a run sets up once."""
        from energy_consumption_forecasting_spark import get_spark
        from synth import synthesize

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=spark_conf(self.work))
        self.queries, self.oracles = load_registry()
        self.session_start_s = time.perf_counter() - t0
        self.data_dir = os.path.join(self.work, "data")
        synthesize(self.data_dir, self.wl.sf, self.args.seed)
        self.correct, not_setup_s = self.check()
        for name in self.wl.queries:  # the first warm pass is still on the JIT slope
            self.run_query(name, count=False)
        return time.perf_counter() - t0 - not_setup_s

    # -- timed region ---------------------------------------------------
    def run_query(self, name: str, count: bool = True, tracer=None) -> float:
        """Construct one query and execute it into the noop sink; with a
        tracer, under query, construct and write spans."""
        from spans import span

        t0 = time.perf_counter()
        try:
            with span(tracer, name, "query"):
                with span(tracer, "construct", "queries"):
                    df = self.queries[name](self.spark, self.data_dir)
                with span(tracer, "write", "spark"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a raising query is a failure, not a crash
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            if count:
                self.failed += 1
            else:
                raise
        finally:
            if count:
                self.attempted += 1
        return time.perf_counter() - t0

    def between_passes(self) -> None:
        """Free the previous pass's checkpoint blocks outside any timed
        window (the ContextCleaner frees them only after a JVM GC)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def passes(self, seconds: float, on_query=None, on_pass=None):
        """Whole passes until ``seconds`` have elapsed; returns
        ``(pass_s list, {query: latencies}, loadavg list)``."""
        pass_s, query_s, load = [], {n: [] for n in self.wl.queries}, []
        t_end = time.perf_counter() + seconds
        while not pass_s or time.perf_counter() < t_end:
            self.between_passes()
            load.append(os.getloadavg()[0])
            order = [self.wl.queries[i] for i in self.rng.permutation(len(self.wl.queries))]
            if on_pass:
                on_pass("start")
            t0 = time.perf_counter()
            for name in order:
                dt = on_query(name) if on_query else self.run_query(name)
                query_s[name].append(dt)
            pass_s.append(time.perf_counter() - t0)
            if on_pass:
                on_pass("end")
        return pass_s, query_s, load

    # -- output check ---------------------------------------------------
    def check(self) -> tuple[bool, float]:
        """Check every query once; returns whether all passed and the
        seconds spent outside the engine (oracles, check inputs)."""
        from check import CHECK_SEED, check_queries
        from synth import TABLES, synthesize

        t0 = time.perf_counter()
        check_dir = os.path.join(self.work, "check")
        if any(n not in self.oracles for n in self.wl.queries):
            synthesize(check_dir, self.wl.sf, CHECK_SEED)
        outside_s = time.perf_counter() - t0
        results, oracle_s = check_queries(
            self.spark,
            self.queries,
            self.oracles,
            self.wl.queries,
            self.data_dir,
            check_dir,
            TABLES,
            self.args.workload,
        )
        bad = {n: r for n, r in results.items() if r is not None}
        self.attempted += len(results)
        self.failed += len(bad)
        for n, r in bad.items():
            self.errors.append(f"check {n}: {r}")
        return not bad, outside_s + oracle_s

    def context(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "nproc": nproc(),
        }

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(pass_s, query_s, setup_s) -> tuple[dict, dict]:
    """``query_s`` maps each query to its latencies.  The tail is the
    slowest query's median latency: a run has too few executions for
    a high percentile with ten samples beyond it, which is reported in
    ``info`` when there is one, with the median over all executions
    (across seeds it moves with which query sits in the middle, so it
    is not a gated metric)."""
    flat = [x for xs in query_s.values() for x in xs]
    tail_p = highest_percentile(len(flat))
    metrics = {
        "pass_s": metric(statistics.median(pass_s), "s"),
        "slowest_query_s": metric(max(statistics.median(xs) for xs in query_s.values()), "s"),
        "setup_s": metric(setup_s, "s"),
    }
    info = {
        "query_median_s": {q: statistics.median(xs) for q, xs in query_s.items()},
        "pass_s_each": pass_s,
        "passes": len(pass_s),
        "query_p50_s": statistics.median(flat),
        "query_samples": len(flat),
        "tail_percentile": tail_p,
        "tail_s": percentile(flat, tail_p) if tail_p else None,
    }
    return metrics, info


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "queries", "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    pin_environment(work)
    bench = Bench(args, work)
    try:
        return run(bench, args)
    finally:
        try:
            if bench.spark is not None:
                stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run(bench: Bench, args) -> int:
    setup_s = bench.setup()
    t0 = time.perf_counter()
    if args.trace:
        from tracerun import traced_passes

        metrics, info = traced_passes(bench, args.seconds)
    else:
        pass_s, query_s, load = bench.passes(args.seconds)
        metrics, info = end_to_end(pass_s, query_s, setup_s)
        info["loadavg_1m_per_pass"] = [round(x, 2) for x in load]
    info["measured_s"] = time.perf_counter() - t0
    if not args.trace:
        metrics["peak_rss_mb"] = metric(peak_rss_mb(bench.jvm_pid()), "MB")
    info.update(bench.context())
    info["workload"] = args.workload
    info["sf"] = bench.wl.sf
    info["fail_ratio"] = bench.failed / max(1, bench.attempted)
    for err in bench.errors:
        print("perfbench error:", err, file=sys.stderr)
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload} fail_ratio = {info['fail_ratio']:.6g} ratio")
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": bench.correct and bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
