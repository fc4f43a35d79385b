"""The workloads, their correctness checks and their metrics.

Each workload object in ``ALL`` provides

* ``MODULES`` / ``IMPORTS_CATALOG``: what set-up imports;
* ``prepare(seed)``: untimed input generation (pure data);
* ``run(ctx, inputs, workdir)``: the measured operations, recorded
  through ``ctx.op`` (wall and process-tree CPU seconds) and checked
  through ``ctx.check``;
* ``summary(ctx, key)``: ``(work, op_p50)`` of the operations' CPU
  (``cpu_s``, the end-to-end metrics) or wall (``wall_s``) seconds.

Program modules are imported inside functions: set-up re-imports the
package, and the workload must use the fresh modules.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pandas as pd

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "hadoop_data_pipeline_spark"

END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "op_cpu_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "catalog.import_s": "s", "readers.load_s": "s",
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "exec_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "driver_gap_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "task_util": "ratio",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "scan_bytes": "bytes",
    "cache.storage_bytes_after": "bytes",
    "py.run_s": "s", "py.init_s": "s", "py.bytes_sent": "bytes",
    "py.bytes_returned": "bytes",
    "pipeline.discover_s": "s", "pipeline.read_s": "s",
    "etl.backfill_s": "s", "etl.incr_s": "s", "etl.jobs": "count",
    "etl.write_amp": "ratio", "etl.files_written": "count",
    "quality.gate_s": "s", "quality.gate_jobs": "count",
    "atomic.write_s": "s", "atomic.swap_s": "s",
    "versioning.snapshot_s": "s", "versioning.cleanup_s": "s",
    "fs.calls": "count", "fs.s": "s",
    "serve.guard_s": "s", "serve.jobs_per_request": "count",
    "serve.storage_bytes_after": "bytes",
    "tick_s.dedup_sink": "s", "tick_s.neardup_sink": "s",
    "tick_s.prep_sink": "s", "tick_s.embed_sink": "s",
    "tick_s.media_sink": "s", "stream.stage_s": "s", "tick.jobs": "count",
    "state.bytes": "bytes", "state.files": "count",
    "batches_skipped": "count",
    "commitlog.recover_s": "s", "commitlog.begin_s": "s",
    "commitlog.commit_s": "s",
    "peak_rss_mb": "MB", "trace.overhead_s": "s",
    "work_s": "s", "op_p50_s": "s",
}


def units(trace: int) -> dict[str, str]:
    return PER_LAYER if trace else END_TO_END


def _dir_usage(*roots: str) -> tuple[int, int]:
    """(bytes, files) under ``roots``."""
    size = files = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Context:
    """One pass over a workload: operations, checks and (when traced)
    spans and Spark counts."""

    def __init__(self, spark, sf_dir, seconds, cores, tracer=None, counts=None):
        self.spark, self.sf_dir = spark, sf_dir
        self.seconds, self.cores = seconds, cores
        #: Seconds spent in the benchmark's own tracing code.
        self.trace_s = 0.0
        self.tracer, self.counts = tracer, counts
        self.ops: list[dict] = []
        self.extra: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def traced(self, spans) -> Context:
        return Context(self.spark, self.sf_dir, self.seconds, self.cores,
                       spans.Tracer(), spans.SparkCounts(self.spark))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"perfbench: check failed: {what}")

    @contextmanager
    def op(self, kind: str, name: str):
        """One measured operation; traced runs tag its Spark jobs with a
        job group and attach a Spark profile to the record."""
        rec = {"kind": kind, "name": name, "job_ids": []}
        if self.tracer is not None:
            t0 = time.perf_counter()
            rec["id"] = f"{kind}-{len(self.ops)}"
            self.tracer.op = rec["id"]
            self.spark.sparkContext.setJobGroup(rec["id"], name)
            self.counts.new_jobs()
            self.counts.sql_profile()
            self.trace_s += time.perf_counter() - t0
        rec["start"] = time.time()
        c0 = proctree.cpu_s()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(kind, "op"):
                    yield rec
            else:
                yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = proctree.cpu_s() - c0
            rec["end"] = time.time()
            if self.tracer is not None:
                t1 = time.perf_counter()
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.op = None
                rec["job_ids"] += self.counts.new_jobs()
                self._profile(rec)
                self.trace_s += time.perf_counter() - t1
            self.ops.append(rec)

    def jobs_now(self, rec: dict) -> int:
        """Traced runs: move the jobs submitted so far into ``rec``."""
        if self.counts is None:
            return 0
        t0 = time.perf_counter()
        new = self.counts.new_jobs()
        rec["job_ids"] += new
        self.trace_s += time.perf_counter() - t0
        return len(new)

    def _profile(self, rec: dict) -> None:
        from spans import _union_s

        p = self.counts.job_profile(rec["job_ids"])
        p.update(self.counts.sql_profile())
        win = (rec.get("exec_start", rec["start"]), rec["end"])
        clipped = [
            (max(a, win[0]), min(b, win[1]))
            for a, b in p["intervals"] if b > win[0] and a < win[1]
        ]
        p["driver_gap_s"] = max(0.0, win[1] - win[0] - _union_s(clipped))
        p["job_wall_s"] = _union_s(p["intervals"])
        p["job_starts"] = [a for a, _ in p.pop("intervals")]
        rec.update(p)

    def finish(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()

    def write_trace(self, out_dir: str, workload: str, seed: int, walls: dict) -> None:
        """One trace file (self seconds per layer and per span, the spans
        and the operation records) and one profile file (one row per
        operation) per traced run."""
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{workload}-seed{seed}")
        rows = [
            {k: v for k, v in r.items() if k not in ("job_ids", "job_starts")}
            for r in self.ops
        ]
        with open(stem + ".trace.json", "w") as fh:
            json.dump({"workload": workload, "seed": seed, **walls,
                       "layer_self_s": self.tracer.layer_self_times(),
                       "span_self_s": self.tracer.self_times(),
                       "spans": self.tracer.spans, "ops": rows}, fh)
        with open(stem + ".profile.json", "w") as fh:
            json.dump(rows, fh, indent=1)

    # -- helpers for per-layer metrics ---------------------------------
    def span_self(self, *names: str) -> float:
        st = self.tracer.self_times()
        return sum(st.get(n, 0.0) for n in names)

    def span_self_prefix(self, prefix: str) -> float:
        return sum(v for k, v in self.tracer.self_times().items() if k.startswith(prefix))

    def jobs_in_spans(self, name: str) -> int:
        windows = [(s["start"], s["end"]) for s in self.tracer.spans if s["name"] == name]
        starts = [t for r in self.ops for t in r.get("job_starts", ())]
        return sum(1 for t in starts if any(a <= t <= b for a, b in windows))


def per_layer(ctx: Context, setup: dict) -> dict[str, float]:
    """Aggregate the traced pass into the per-layer metrics; a metric a
    workload never exercises reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("session.start_s", "catalog.import_s"):
        m[k] = setup[k]
    sums = (
        "jobs stages tasks failed_tasks executor_run_s executor_cpu_s gc_s "
        "shuffle_write_bytes shuffle_read_bytes spill_bytes scan_bytes "
        "driver_gap_s py.run_s py.init_s py.bytes_sent py.bytes_returned"
    ).split()
    for r in ctx.ops:
        for k in sums:
            m[k] += r.get(k, 0.0)
        m["build_jobs"] += r.get("build_jobs", 0)
    job_wall = sum(r.get("job_wall_s", 0.0) for r in ctx.ops)
    m["task_util"] = m["executor_run_s"] / (job_wall * ctx.cores) if job_wall else 0.0
    m["readers.load_s"] = ctx.span_self("readers.load_table")
    m["build_s"] = ctx.span_self("build")
    m["plan_s"] = ctx.span_self("plan")
    m["exec_s"] = ctx.span_self("execute")
    m["trace.overhead_s"] = ctx.trace_s
    m.update(ctx.extra)
    return m


# -- catalog -----------------------------------------------------------------


class Catalog:
    """A fixed panel of catalog queries (``lists.json``) in a fixed order.
    An untimed first pass over the panel compiles its operators and
    starts the Python workers; the measured passes follow, at least
    ``MIN_PASSES`` of them and as many as fit ``--seconds``.  A query is
    timed from the caller's side: the query callable builds the frame
    (driver-side work and any jobs it submits included), then the result
    is collected to the driver through Arrow.  Every result, the first
    pass's too, is fingerprinted and checked untimed."""

    MODULES = (f"{PKG}.session", f"{PKG}.sources.readers")
    IMPORTS_CATALOG = True
    MIN_PASSES = 3

    def __init__(self, name: str, budget_s: float):
        self.name = name
        self.budget_s = budget_s

    def prepare(self, seed: int) -> dict:
        """The panel runs in a fixed order whatever the seed: its queries
        share compiled operators and kernels, so the order decides which
        query pays for their first use, and a seeded order moved the
        median query time by 2x between seeds."""
        with open(os.path.join(HERE, "lists.json")) as fh:
            lists = json.load(fh)
        with open(os.path.join(HERE, "fingerprints.json")) as fh:
            expected = json.load(fh)
        return {"order": pick_panel(lists[self.name], lists["seed_trace"], self.budget_s),
                "expected": expected, "lists": lists}

    def run(self, ctx: Context, inputs: dict, workdir: str) -> None:
        from hadoop_data_pipeline_spark import queries_catalog as qc

        check_partition(inputs["lists"])
        for name in inputs["order"]:
            self.query(ctx, name, qc.QUERIES[name], inputs["expected"], timed=False)
        if ctx.tracer is not None:
            ctx.tracer.wrap(qc, "load_table", "sources.readers", "readers.load_table")
        t0, passes = time.perf_counter(), 0
        while passes < self.MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
            for name in inputs["order"]:
                self.query(ctx, name, qc.QUERIES[name], inputs["expected"], timed=True)
            passes += 1
        if ctx.tracer is not None:
            ctx.extra["cache.storage_bytes_after"] = ctx.counts.storage_bytes()
            _split_query_spans(ctx)

    def query(self, ctx: Context, name: str, fn, expected: dict, timed: bool) -> None:
        from fingerprint import fingerprint

        ctx.spark.catalog.clearCache()
        try:
            if timed:
                with ctx.op("query", name) as rec:
                    pdf = self.execute(ctx, rec, fn)
            else:
                pdf = fn(ctx.spark, ctx.sf_dir).toPandas()
            got = fingerprint(pdf)
        except Exception as ex:  # noqa: BLE001 - a failing query is a failed op
            got = {"error": str(ex)[:200]}
        self.check_result(ctx, name, got, expected)

    @staticmethod
    def execute(ctx: Context, rec: dict, fn):
        if ctx.tracer is None:
            return fn(ctx.spark, ctx.sf_dir).toPandas()
        with ctx.tracer.span("build", "operators"):
            df = fn(ctx.spark, ctx.sf_dir)
        rec["build_jobs"] = ctx.jobs_now(rec)
        rec["exec_start"] = time.time()
        with ctx.tracer.span("plan", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with ctx.tracer.span("execute", "scheduler"):
            return df.toPandas()

    @staticmethod
    def check_result(ctx: Context, name: str, got: dict, expected: dict) -> None:
        ctx.check(got == expected.get(name), f"{name}: {got} != {expected.get(name)}")

    @staticmethod
    def summary(ctx: Context, key: str) -> tuple[float, float]:
        """(work, op_p50) of ``key`` (``cpu_s`` or ``wall_s``): one pass
        over the panel, each query at its median, and the median query."""
        medians = name_medians(ctx.ops, key)
        return sum(medians), statistics.median(medians)


def _split_query_spans(ctx: Context) -> None:
    """Attach build/plan/execute seconds to each query's profile row."""
    per_op: dict[str, dict] = defaultdict(dict)
    for s in ctx.tracer.spans:
        if s["name"] in ("build", "plan", "execute") and s["op"]:
            per_op[s["op"]][s["name"] + "_s"] = s["end"] - s["start"]
    for r in ctx.ops:
        r.update(per_op.get(r.get("id"), {}))


def pick_panel(names: list[str], trace: dict, budget_s: float) -> list[str]:
    """The timed panel of a list: evenly spaced picks over the list ranked
    by seed-trace time (build + execute), so the panel keeps the list's
    spread of cheap and heavy queries; as many picks as fit ``budget_s``
    of seed-trace time."""
    secs = {n: trace[n]["build_s"] + trace[n]["exec_s"] for n in names}
    ranked = sorted(names, key=lambda n: (secs[n], n))
    for k in range(len(ranked), 0, -1):
        step = len(ranked) / k
        panel = sorted({ranked[int(i * step + step / 2)] for i in range(k)})
        if sum(secs[n] for n in panel) <= budget_s:
            return panel
    return ranked[:1]


def check_partition(lists: dict) -> None:
    """Every catalog query is in exactly one list; raises otherwise."""
    from hadoop_data_pipeline_spark import queries_catalog as qc

    a, b = set(lists["catalog_sql"]), set(lists["catalog_pipelines"])
    names = set(qc.QUERIES)
    problems = []
    if a & b:
        problems.append(f"in both lists: {sorted(a & b)}")
    if names - a - b:
        problems.append(f"in neither list: {sorted(names - a - b)}")
    if (a | b) - names:
        problems.append(f"not in the catalog: {sorted((a | b) - names)}")
    if problems:
        raise ValueError("perfbench/lists.json does not partition the catalog: "
                         + "; ".join(problems))


# -- medallion ETL + dashboard serving ---------------------------------------

QUESTIONS = {
    "top": (
        "Which five categories spent the most in {y}?",
        "SELECT category, ROUND(SUM(amount), 2) AS spent FROM finance_long "
        "WHERE year = {y} AND details = 'spent' GROUP BY category "
        "ORDER BY spent DESC, category LIMIT 5",
    ),
    "monthly": (
        "What was spent in each month of {y}?",
        "SELECT `date`, ROUND(SUM(amount), 2) AS spent FROM finance_long "
        "WHERE year = {y} AND details = 'spent' GROUP BY `date` ORDER BY `date`",
    ),
    "budget": (
        "What is the {c} budget for {y}?",
        "SELECT ROUND(SUM(amount), 2) AS budget FROM finance_long "
        "WHERE year = {y} AND details = 'budget' AND category = '{c}'",
    ),
}


class StubLLM:
    """Deterministic stand-in for the dashboard's LLM: each question maps
    to one SQL statement; summaries and chart picks are fixed."""

    def __init__(self, sql_by_question: dict[str, str]):
        self.sql = sql_by_question

    def __call__(self, system: str, user: str) -> str:
        if system.startswith("You translate"):
            return self.sql[user.rsplit("Question: ", 1)[1].strip()]
        if system.startswith("Suggest a chart"):
            return "bar"
        return "summary"


def answers_match(got, want, tol: float) -> bool:
    """Structural equality; numbers within ``tol`` absolute or 1e-9
    relative."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            answers_match(got[k], want[k], tol) for k in want)
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            answers_match(g, w, tol) for g, w in zip(got, want))
    if isinstance(want, float) and isinstance(got, (int, float)):
        return abs(got - want) <= max(tol, 1e-9 * abs(want))
    return got == want


#: Absolute tolerance per request kind: answers rounded to cents by
#: Spark's half-up ROUND may differ from Python's half-even by 0.01.
ANSWER_TOL = {"available_years": 0.0, "negative_categories": 0.0,
              "quick_stats": 0.011, "ask": 0.011}


class Medallion:
    """Reference flow: a seeded raw zone of fiscal years (one seeded to
    fail DQ) through ``IncrementalPipeline.run()``, one incremental tick
    with a new year, then a closed loop of one analyst sending seeded
    ``DashboardService`` requests against the curated table."""

    MODULES = tuple(
        f"{PKG}.{m}" for m in (
            "session sources.readers pipeline quality atomic versioning fs "
            "guards llm_ops history serving app.service"
        ).split()
    )
    IMPORTS_CATALOG = False
    FIRST_YEAR = 2015
    BACKFILL_YEARS = 2
    #: Seeded requests drawn per run; the closed loop sends them in order
    #: until ``--seconds`` of request time have passed.
    REQUESTS = 400
    WARM_GROUPS = 2
    MIN_GROUPS = 5

    def prepare(self, seed: int) -> dict:
        import data

        rng = np.random.default_rng([seed, 1])
        years = list(range(self.FIRST_YEAR, self.FIRST_YEAR + self.BACKFILL_YEARS))
        incr = years[-1] + 1
        bad = int(years[rng.integers(1, len(years))])
        rows = {y: data.finance_year(rng, y, bad=(y == bad)) for y in [*years, incr]}
        good = sorted(y for y in rows if y != bad)
        long = self.expected_long({y: rows[y] for y in good})
        # the analyst's requests: each group of four holds every kind
        # once, in seeded order, so every run sends the same mix
        kinds = list(ANSWER_TOL)
        requests = []
        for _ in range(self.REQUESTS // len(kinds)):
            for i in rng.permutation(len(kinds)):
                y = int(good[rng.integers(0, len(good))])
                if kinds[i] != "ask":
                    requests.append((kinds[i], y, None))
                    continue
                q = list(QUESTIONS)[rng.integers(0, len(QUESTIONS))]
                c = data.MEASURES[rng.integers(0, len(data.MEASURES))]
                text, sql = (s.format(y=y, c=c) for s in QUESTIONS[q])
                requests.append(("ask", y, (q, text, sql, c)))
        return {"rows": rows, "years": years, "incr": incr, "bad": bad,
                "good": good, "long": long, "requests": requests}

    @staticmethod
    def expected_long(rows: dict[int, list[list]]) -> pd.DataFrame:
        """The curated long table recomputed in pandas from the raw rows."""
        import data

        parts = []
        for y, rs in rows.items():
            wide = pd.DataFrame(rs, columns=data.WIDE_COLUMNS)
            keep = wide["date"].str.match(r"^\d{4}-\d{2}$") | (wide["date"] == "all-year-budget")
            long = wide[keep.fillna(False)].melt(
                id_vars=["date", "details"], value_vars=data.MEASURES,
                var_name="category", value_name="amount",
            ).dropna(subset=["amount"])
            long["year"] = y
            parts.append(long)
        out = pd.concat(parts, ignore_index=True)
        out["amount"] = out["amount"].astype("float64")
        return out

    @staticmethod
    def expected_answer(long: pd.DataFrame, kind: str, y: int, ask) -> object:
        d = long[long["year"] == y]
        if kind == "available_years":
            return sorted(long["year"].unique().tolist(), reverse=True)
        if kind == "quick_stats":
            budget = d[(d["details"] == "budget") & (d["date"] == "all-year-budget")]["amount"].sum()
            spent = d[d["details"] == "spent"]["amount"].sum()
            return {"total_budget": budget, "total_spent": spent,
                    "remaining": budget - spent,
                    "pct_used": round(spent / budget * 100, 2) if budget else 0.0}
        if kind == "negative_categories":
            rem = d[(d["details"] == "remaining") & d["date"].str.match(r"^\d{4}-\d{2}$")]
            latest = rem.sort_values("date").groupby("category").tail(1)
            neg = latest[latest["amount"] < 0].sort_values("amount")
            return [{"category": c, "amount": a} for c, a in zip(neg["category"], neg["amount"])]
        q, _, _, c = ask
        spent = d[d["details"] == "spent"]
        if q == "top":
            s = spent.groupby("category")["amount"].sum().round(2)
            s = s.reset_index().sort_values(["amount", "category"], ascending=[False, True]).head(5)
            return [{"category": a, "spent": b} for a, b in zip(s["category"], s["amount"])]
        if q == "monthly":
            s = spent.groupby("date")["amount"].sum().round(2).sort_index()
            return [{"date": a, "spent": b} for a, b in s.items()]
        b = d[(d["details"] == "budget") & (d["category"] == c)]["amount"]
        return [{"budget": round(b.sum(), 2) if len(b) else None}]

    def etl(self, ctx: Context, inputs: dict, workdir: str) -> None:
        """The backfill and the incremental tick, each one operation; then
        the DQ outcomes and the curated table are checked."""
        import data
        from fingerprint import fingerprint

        from hadoop_data_pipeline_spark import pipeline as pl

        spark = ctx.spark
        raw, staging, curated, versions = (
            os.path.join(workdir, d) for d in ("raw", "staging", "curated", "versions")
        )
        raw_bytes = 0
        for y in inputs["years"]:
            raw_bytes += data.write_finance_csv(
                os.path.join(raw, f"year={y}", f"finance_{y}.csv"), inputs["rows"][y]
            )
        if ctx.tracer is not None:
            _install_medallion(ctx)
        pipe = pl.IncrementalPipeline(
            spark, raw_root=raw, wide_path=staging, long_path=curated,
            versions_root=versions, expected_columns=data.WIDE_COLUMNS,
        )
        with ctx.op("etl", "backfill"):
            res = pipe.run()
        self.check_dq(ctx, res, [y for y in inputs["years"] if y != inputs["bad"]],
                      [inputs["bad"]])
        y = inputs["incr"]
        raw_bytes += data.write_finance_csv(
            os.path.join(raw, f"year={y}", f"finance_{y}.csv"), inputs["rows"][y]
        )
        with ctx.op("etl", "incremental"):
            res = pipe.run()
        self.check_dq(ctx, res, [y], [])
        got = fingerprint(spark.read.parquet(curated).toPandas())
        ctx.check(got == fingerprint(inputs["long"]), f"curated content {got}")
        if ctx.tracer is not None:
            etl = [r for r in ctx.ops if r["kind"] == "etl"]
            written = _dir_usage(staging, curated, versions)
            ctx.extra.update({
                "etl.backfill_s": etl[0]["wall_s"], "etl.incr_s": etl[1]["wall_s"],
                "etl.jobs": sum(r["jobs"] for r in etl) / (len(inputs["years"]) + 1),
                "etl.write_amp": written[0] / raw_bytes,
                "etl.files_written": written[1],
                "pipeline.discover_s": ctx.span_self("pipeline.discover"),
                "pipeline.read_s": ctx.span_self("pipeline.read_year"),
                "quality.gate_s": ctx.span_self("quality.gate"),
                "quality.gate_jobs": ctx.jobs_in_spans("quality.gate"),
                "atomic.write_s": ctx.span_self("atomic.write"),
                "atomic.swap_s": ctx.span_self("atomic.swap"),
                "versioning.snapshot_s": ctx.span_self("versioning.snapshot"),
                "versioning.cleanup_s": ctx.span_self("versioning.cleanup"),
                "fs.calls": sum(v for k, v in ctx.tracer.calls.items() if k.startswith("fs.")),
                "fs.s": ctx.span_self_prefix("fs."),
            })

    def serve(self, ctx: Context, inputs: dict, workdir: str) -> None:
        """One analyst's closed loop on the curated table, in groups of
        one request of each kind: ``WARM_GROUPS`` groups warm up untimed;
        then whole groups are timed, at least ``MIN_GROUPS`` and until
        ``--seconds`` of request time have passed.  Every answer is
        checked untimed."""
        from hadoop_data_pipeline_spark.app.service import DashboardService
        from hadoop_data_pipeline_spark.history import ChatHistory

        spark = ctx.spark
        spark.read.parquet(os.path.join(workdir, "curated")).createOrReplaceTempView("finance_long")
        sql = {a[1]: a[2] for _, _, a in inputs["requests"] if a}
        svc = DashboardService(spark, StubLLM(sql), ["finance_long"],
                               ChatHistory(os.path.join(workdir, "history.json")))
        storage_before = ctx.counts.storage_bytes() if ctx.counts else 0
        group = len(ANSWER_TOL)  # one request of each kind
        served = 0.0
        for i, (kind, y, ask) in enumerate(inputs["requests"]):
            timed_groups = i // group - self.WARM_GROUPS
            if i % group == 0 and timed_groups >= self.MIN_GROUPS and served >= ctx.seconds:
                break
            if timed_groups < 0:
                answer = self.request(svc, kind, y, ask)
            else:
                with ctx.op("request", kind):
                    answer = self.request(svc, kind, y, ask)
                served += ctx.ops[-1]["wall_s"]
            want = self.expected_answer(inputs["long"], kind, y, ask)
            ctx.check(answers_match(answer, want, ANSWER_TOL[kind]),
                      f"{kind} {y} {ask[1] if ask else ''}: {answer!r:.200} != {want!r:.200}")
        if ctx.tracer is not None:
            serve = [r for r in ctx.ops if r["kind"] == "request"]
            ctx.extra.update({
                "serve.guard_s": ctx.span_self_prefix("guards."),
                "serve.jobs_per_request": sum(r["jobs"] for r in serve) / len(serve),
                "serve.storage_bytes_after": ctx.counts.storage_bytes() - storage_before,
            })

    @staticmethod
    def request(svc, kind: str, y: int, ask):
        try:
            if kind == "ask":
                return svc.ask(ask[1], f"year {y}").rows
            if kind == "available_years":
                return svc.available_years("finance_long")
            return getattr(svc, kind)("finance_long", y)
        except Exception as ex:  # noqa: BLE001 - a failed request counts as failed
            return f"error: {ex}"[:200]

    @staticmethod
    def check_dq(ctx: Context, res, processed: list[int], failed: list[int]) -> None:
        """Each year's DQ outcome: these years pass, those fail."""
        ctx.check(res.processed == processed and res.failed == failed,
                  f"DQ outcomes {res.processed} / {res.failed}, "
                  f"expected {processed} / {failed}")


def _install_medallion(ctx: Context) -> None:
    from hadoop_data_pipeline_spark import atomic, guards, llm_ops, pipeline, serving
    from hadoop_data_pipeline_spark.app.service import DashboardService
    from hadoop_data_pipeline_spark.fs import FS
    from hadoop_data_pipeline_spark.versioning import Versioner

    w = ctx.tracer.wrap
    P = pipeline.IncrementalPipeline
    w(P, "discover", "pipeline", "pipeline.discover")
    w(P, "read_year", "pipeline", "pipeline.read_year")
    w(P, "run_year", "pipeline", "pipeline.run_year")
    w(pipeline, "run_quality_checks", "quality", "quality.gate")
    w(pipeline, "atomic_write_partition", "atomic", "atomic.write")
    w(atomic, "swap_directory", "atomic", "atomic.swap")
    w(Versioner, "create_version", "versioning", "versioning.snapshot")
    w(Versioner, "cleanup_old_versions", "versioning", "versioning.cleanup")
    for m in ("exists list_files list_file_sizes touch mkdirs rename delete "
              "write_text write_bytes read_text").split():
        w(FS, m, "fs", f"fs.{m}")
    for m in ("clean_sql", "has_bad_remaining_sum", "plan_has_bad_remaining_sum"):
        w(guards, m, "guards", f"guards.{m}")
    w(llm_ops, "answer_question", "llm_ops", "llm_ops.answer_question")
    for m in ("available_years", "quick_stats", "negative_latest_categories"):
        w(serving, m, "serving", f"serving.{m}")
    for m in ("ask", "available_years", "quick_stats", "negative_categories"):
        w(DashboardService, m, "app.service", f"service.{m}")


# -- streaming sinks ------------------------------------------------------------

SINKS = ("dedup_sink", "neardup_sink", "prep_sink", "embed_sink", "media_sink")
DOC_SCHEMA = "doc_id bigint, text string, lang string"
EMB_SCHEMA = "vec_id bigint, embedding array<float>"


class Stream:
    """Back-to-back ``run_available_now()`` ticks through all five
    exactly-once sinks; each tick round brings a new seeded chunk with
    planted exact and near duplicates."""

    MODULES = tuple(
        f"{PKG}.{m}" for m in (
            "session sources.readers streaming.commitlog streaming.dedup_sink "
            "streaming.neardup_sink streaming.prep_sink streaming.embed_sink "
            "streaming.media_sink"
        ).split()
    )
    IMPORTS_CATALOG = False
    TICKS = 1
    PER_TICK = 830

    def prepare(self, seed: int) -> dict:
        import data

        docs, embs = data.stream_chunks(seed, self.TICKS, self.PER_TICK)
        return {"docs": docs, "embs": embs}

    @staticmethod
    def make_sinks(spark, root: str) -> dict:
        from hadoop_data_pipeline_spark.streaming.dedup_sink import StreamingDedupSink
        from hadoop_data_pipeline_spark.streaming.embed_sink import StreamingEmbeddingSink
        from hadoop_data_pipeline_spark.streaming.media_sink import StreamingMediaSink
        from hadoop_data_pipeline_spark.streaming.neardup_sink import StreamingNearDupSink
        from hadoop_data_pipeline_spark.streaming.prep_sink import StreamingPrepSink

        d = lambda s, x: os.path.join(root, s, x)  # noqa: E731
        return {
            "dedup_sink": StreamingDedupSink(
                spark, d("dedup_sink", "src"), DOC_SCHEMA, d("dedup_sink", "clean"),
                d("dedup_sink", "digests"), d("dedup_sink", "ckpt")),
            "neardup_sink": StreamingNearDupSink(
                spark, d("neardup_sink", "src"), DOC_SCHEMA, d("neardup_sink", "clean"),
                d("neardup_sink", "index"), d("neardup_sink", "ckpt")),
            "prep_sink": StreamingPrepSink(
                spark, d("prep_sink", "src"), DOC_SCHEMA, d("prep_sink", "clean"),
                d("prep_sink", "digests"), d("prep_sink", "index"), d("prep_sink", "ckpt")),
            "embed_sink": StreamingEmbeddingSink(
                spark, d("embed_sink", "src"), EMB_SCHEMA, d("embed_sink", "store"),
                d("embed_sink", "ckpt")),
            "media_sink": StreamingMediaSink(
                spark, d("media_sink", "src"), DOC_SCHEMA, d("media_sink", "clean"),
                d("media_sink", "index"), d("media_sink", "ckpt")),
        }

    def run(self, ctx: Context, inputs: dict, workdir: str) -> None:
        import pyarrow.parquet as pq

        sinks = self.make_sinks(ctx.spark, workdir)
        if ctx.tracer is not None:
            _install_stream(ctx, sinks)
        for t, (docs, embs) in enumerate(zip(inputs["docs"], inputs["embs"])):
            for name in SINKS:  # the chunk lands (untimed) before the round
                src = os.path.join(workdir, name, "src")
                os.makedirs(src, exist_ok=True)
                tmp = os.path.join(src, f".part-{t}.tmp")
                pq.write_table(embs if name == "embed_sink" else docs, tmp)
                os.replace(tmp, os.path.join(src, f"part-{t}.parquet"))
            for name in SINKS:
                try:
                    with ctx.op("tick", name):
                        done = sinks[name].run_available_now(timeout_sec=300)
                except Exception as ex:  # noqa: BLE001 - a failed tick counts as failed
                    done = f"error: {ex}"[:200]
                ctx.check(done is True, f"{name} tick {t}: {done}")
        self.check_state(ctx, inputs, workdir)
        if ctx.tracer is not None:
            ticks = [r for r in ctx.ops if r["kind"] == "tick"]
            state = _dir_usage(*(
                os.path.join(workdir, s, x) for s in SINKS
                for x in ("clean", "digests", "index", "store", "ckpt")
            ))
            ctx.extra.update({
                **{f"tick_s.{s}": statistics.median(r["wall_s"] for r in ticks if r["name"] == s)
                   for s in SINKS},
                "stream.stage_s": ctx.span_self("stream.stage_and_release"),
                "tick.jobs": sum(r["jobs"] for r in ticks) / len(ticks),
                "state.bytes": state[0], "state.files": state[1],
                "batches_skipped": ctx.extra.get("batches_skipped", 0),
                "commitlog.recover_s": ctx.span_self("commitlog.recover"),
                "commitlog.begin_s": ctx.span_self("commitlog.begin"),
                "commitlog.commit_s": ctx.span_self("commitlog.commit"),
            })

    @staticmethod
    def check_state(ctx: Context, inputs: dict, workdir: str) -> None:
        """Untimed: exactly-once and dedup invariants on every sink, and
        the dedup sink's clean zone equal to an iterative batch
        reference (first occurrence per md5, tick by tick)."""
        import hashlib

        import pyarrow.parquet as pq

        def read(path, cols):
            if not os.path.isdir(path):
                return pd.DataFrame(columns=cols)
            return pq.read_table(path, columns=cols).to_pandas()

        all_docs = pd.concat([c.to_pandas() for c in inputs["docs"]], ignore_index=True)
        all_embs = pd.concat([c.to_pandas() for c in inputs["embs"]], ignore_index=True)
        seen: set[str] = set()
        ref: set[int] = set()
        for chunk in inputs["docs"]:
            c = chunk.to_pandas()
            c["digest"] = [hashlib.md5(t.encode()).hexdigest() for t in c["text"]]
            first = c.sort_values("doc_id").drop_duplicates("digest")
            new = first[~first["digest"].isin(seen)]
            ref |= set(new["doc_id"])
            seen |= set(new["digest"])
        for name in SINKS:
            if name == "embed_sink":
                got = read(os.path.join(workdir, name, "store"), ["vec_id", "embedding"])
                ids, universe = got["vec_id"], set(all_embs["vec_id"])
                dup_payload = got["embedding"].map(lambda v: tuple(np.round(v, 6))).duplicated().sum()
            else:
                got = read(os.path.join(workdir, name, "clean"), ["doc_id", "text"])
                ids, universe = got["doc_id"], set(all_docs["doc_id"])
                dup_payload = got["text"].duplicated().sum()
            ctx.check(len(got) > 0 and not ids.duplicated().any() and set(ids) <= universe,
                      f"{name}: {len(got)} rows, ids unique and from the input")
            ctx.check(dup_payload == 0, f"{name}: {dup_payload} duplicate payloads kept")
            if name == "dedup_sink":
                ctx.check(set(ids) == ref,
                          f"dedup_sink: clean zone != batch reference "
                          f"(+{len(set(ids) - ref)} -{len(ref - set(ids))})")


def _install_stream(ctx: Context, sinks: dict) -> None:
    from hadoop_data_pipeline_spark.streaming import (
        commitlog, dedup_sink, media_sink, prep_sink,
    )

    w = ctx.tracer.wrap

    def skipped(committed):
        if committed:
            ctx.extra["batches_skipped"] = ctx.extra.get("batches_skipped", 0) + 1

    for mod in (dedup_sink, prep_sink, media_sink):
        w(mod, "stage_and_release", "streaming", "stream.stage_and_release")
    L = commitlog.BatchCommitLog
    for m in ("recover", "begin", "commit", "heartbeat"):
        w(L, m, "streaming.commitlog", f"commitlog.{m}")
    w(L, "is_committed", "streaming.commitlog", "commitlog.is_committed", on_result=skipped)
    for name, sink in sinks.items():
        w(type(sink), "_process_batch", "streaming", f"{name}.batch")


class MedallionStream:
    """The lake's write side and its dashboard, in one session: the
    medallion ETL, one tick through each streaming sink, then the
    analyst's requests on the curated table."""

    MODULES = tuple(dict.fromkeys(Medallion.MODULES + Stream.MODULES))
    IMPORTS_CATALOG = False

    def __init__(self):
        self.medallion, self.stream = Medallion(), Stream()

    def prepare(self, seed: int) -> dict:
        return {"medallion": self.medallion.prepare(seed), "stream": self.stream.prepare(seed)}

    def run(self, ctx: Context, inputs: dict, workdir: str) -> None:
        lake, streams = os.path.join(workdir, "medallion"), os.path.join(workdir, "stream")
        self.medallion.etl(ctx, inputs["medallion"], lake)
        self.stream.run(ctx, inputs["stream"], streams)
        self.medallion.serve(ctx, inputs["medallion"], lake)

    @staticmethod
    def summary(ctx: Context, key: str) -> tuple[float, float]:
        """(work, op_p50) of ``key`` (``cpu_s`` or ``wall_s``): the ETL
        and the sink ticks summed, and the median dashboard request."""
        return (sum(r[key] for r in ctx.ops if r["kind"] in ("etl", "tick")),
                statistics.median(name_medians(
                    [r for r in ctx.ops if r["kind"] == "request"], key)))


def name_medians(ops: list[dict], key: str) -> list[float]:
    """Each operation name's median ``key``.  The median over these, not
    over all operations, is the median operation: a run holds a few
    names of very different cost, and the median over all operations
    would sit on the edge between two of them."""
    by_name = defaultdict(list)
    for r in ops:
        by_name[r["name"]].append(r[key])
    return [statistics.median(v) for v in by_name.values()]


ALL = {
    "catalog_pipelines": Catalog("catalog_pipelines", budget_s=8.0),
    "medallion_stream": MedallionStream(),
}
