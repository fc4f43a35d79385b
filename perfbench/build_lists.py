"""Regenerate the committed catalog lists and fingerprints.

Run once per catalog or fixture change, from the repository root:

    python3 perfbench/build_lists.py

Traces every catalog query once on the benchmark's sf0.1 fixture at
4 cores, then writes

* ``lists.json``: the ``catalog_sql`` / ``catalog_pipelines`` split
  (a query is a pipeline if it sends data to Python workers or runs 8
  or more Spark jobs while being built and executed), and the trace the
  split was computed from (the workloads pick their timed panels from
  it);
* ``fingerprints.json``: row count and canonical hash of each result,
  cross-checked against the DuckDB oracle where one exists — every
  disagreement is listed under ``oracle_disagreements`` in
  ``lists.json``, never dropped.

Membership is computed from this trace and then committed, so a later
change to a query's job count does not move it between workloads.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (sets up the environment the workloads use)

PIPELINE_JOBS = 8
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
def main() -> int:
    root = os.getcwd()
    run.prepare_env(root)
    sf_dir = run.catalog_dir(root)
    import duckdb

    sys.path.insert(0, os.path.join(root, "tools"))
    from oracle_check import compare, compare_bounded

    from hadoop_data_pipeline_spark import queries_catalog as qc
    from hadoop_data_pipeline_spark.session import get_session
    from fingerprint import fingerprint
    from spans import SparkCounts

    spark = get_session("perfbench-lists")
    spark.sparkContext.setLogLevel("ERROR")
    counts = SparkCounts(spark)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    trace, prints, disagree = {}, {}, {}
    for name in sorted(qc.QUERIES):
        fn = qc.QUERIES[name]
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        build_jobs = len(counts.new_jobs())
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        exec_jobs = len(counts.new_jobs())
        sql = counts.sql_profile()
        python = sql["py.bytes_sent"] > 0 or sql["py.run_s"] > 0
        spark.catalog.clearCache()
        pdf = fn(spark, sf_dir).toPandas()
        counts.new_jobs()
        counts.sql_profile()
        prints[name] = fingerprint(pdf)
        trace[name] = {
            "build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3),
            "build_jobs": build_jobs, "jobs": build_jobs + exec_jobs,
            "python": python, "rows": len(pdf),
        }
        problems = None
        if name in qc.ORACLES:
            problems = compare(pdf, con.execute(qc.ORACLES[name]).df(), strict=True)
        elif name in qc.BOUND_ORACLES:
            b = qc.BOUND_ORACLES[name]
            problems = compare_bounded(pdf, con.execute(b["sql"]).df(), b["rel_tol"])
        if problems:
            disagree[name] = problems[:3]
        print(name, trace[name], "oracle:", "n/a" if problems is None else
              ("FAIL" if problems else "ok"), flush=True)

    pipelines = sorted(
        n for n, t in trace.items() if t["python"] or t["jobs"] >= PIPELINE_JOBS
    )
    sql_list = sorted(set(trace) - set(pipelines))
    lists = {
        "rule": f"python-worker traffic or >= {PIPELINE_JOBS} jobs -> catalog_pipelines",
        "catalog_sql": sql_list,
        "catalog_pipelines": pipelines,
        "oracle_disagreements": disagree,
        "seed_trace": trace,
    }
    with open(os.path.join(HERE, "lists.json"), "w") as fh:
        json.dump(lists, fh, indent=1, sort_keys=True)
        fh.write("\n")
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(prints, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(sql_list)} sql, {len(pipelines)} pipelines, "
          f"{len(disagree)} oracle disagreements")
    run.shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
