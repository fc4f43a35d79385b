"""spark-graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload catalog_pipelines --seed 1 --seconds 5 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
(the catalog fixture once per checkout, from a fixed seed), the engine
runs on ``local[4]``, every result is checked, and the last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402

CORES = 4
OUT = ".perfbench"
SETUP_REPS = 3
PACKAGE = "hadoop_data_pipeline_spark"


def prepare_env(root: str) -> None:
    """Point Spark, the JVM and Python workers at the checkout: the
    package on every worker's path, scratch space under ``.perfbench``."""
    tmp = os.path.join(root, OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def catalog_dir(root: str) -> str:
    import data

    return data.ensure_catalog(os.path.join(root, OUT, "data"))


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class RssSampler(threading.Thread):
    """Peak resident set size of the process tree (``proctree``), sampled
    every 250 ms from ``/proc/<pid>/statm``, which reads counters without
    walking page tables and so does not stall the sampled processes."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.25):
            self.peak = max(self.peak, proctree.rss_bytes())

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._halt.set()
        self.join()
        return self.peak / 2**20


def purge_package() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def setup(spark, wl) -> tuple[object, dict]:
    """One set-up: import the workload's modules, then start the session
    and run one trivial job.  Later reps first stop the session and drop
    the package from ``sys.modules``, so each rep re-runs the imports."""
    if spark is not None:
        spark.stop()
        purge_package()
    t0 = time.perf_counter()
    for m in wl.MODULES:
        importlib.import_module(m)
    t1 = time.perf_counter()
    cat = 0.0
    if wl.IMPORTS_CATALOG:
        importlib.import_module(f"{PACKAGE}.queries_catalog")
        cat = time.perf_counter() - t1
    t2 = time.perf_counter()
    from hadoop_data_pipeline_spark.session import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # first job warms the scheduler
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0, "catalog.import_s": cat, "session.start_s": t3 - t2,
    }


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    prepare_env(root)
    wl = workloads.ALL[args.workload]
    sf_dir = catalog_dir(root)
    work = os.path.join(root, OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = wl.prepare(args.seed)  # untimed

    # the sampler's own CPU would count in the measured process tree, so
    # only the traced run, which reports peak memory, starts it
    mem = RssSampler() if args.trace else None
    if mem:
        mem.start()
    spark, reps = None, []
    try:
        for _ in range(SETUP_REPS):
            spark, r = setup(spark, wl)
            reps.append(r)
        setup_stats = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
        ctx = workloads.Context(spark, sf_dir, args.seconds, CORES)
        if args.trace:
            import spans

            ctx = ctx.traced(spans)
        t0 = time.perf_counter()
        wl.run(ctx, inputs, work)
        wall = time.perf_counter() - t0
        ctx.finish()
    finally:
        if spark is not None:
            shutdown(spark)
        peak_mb = mem.stop() if mem else 0.0
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = ctx.attempted, ctx.failed
    if args.trace:
        metrics = workloads.per_layer(ctx, setup_stats)
        metrics["peak_rss_mb"] = peak_mb
        ctx.write_trace(os.path.join(root, OUT, "traces"), args.workload, args.seed,
                        {"traced_wall_s": wall})
        metrics["work_s"], metrics["op_p50_s"] = wl.summary(ctx, "wall_s")
    else:
        metrics = {"setup_s": setup_stats["setup_s"]}
        metrics["work_cpu_s"], metrics["op_cpu_p50_s"] = wl.summary(ctx, "cpu_s")
    for line in ctx.notes:
        print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u}
            for k, u in workloads.units(args.trace).items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
