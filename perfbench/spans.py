"""Spans around calls into the program's layers, and Spark's own counts.

Only the traced run (``--trace 1``) installs wrappers.  A wrapper is
placed at the name a caller looks up (a module attribute or a class
method), opens a span for the call, and restores the original on
``Tracer.uninstall``.  Spans nest through one stack: the streaming
``foreachBatch`` callback runs on another thread while the caller sits
blocked in ``awaitTermination``, so a per-thread stack would orphan
those spans.

Spark counts come from the status tracker and the app/SQL status stores
(they work with the UI disabled).  Jobs, stages and SQL executions are
attributed to an operation by id range: operations run one at a time,
and a range also catches the jobs a streaming micro-batch submits from
its own thread, which carry the stream's job group, not ours.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|min|m|h)\b")

#: SQL metric display name -> profile key (summed once per accumulator).
SQL_METRICS = {
    "size of files read": "scan_bytes",
    "time to run Python workers": "py.run_s",
    "time to initialize Python workers": "py.init_s",
    "time to start Python workers": "py.start_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def parse_metric(text: str) -> float:
    """'24.4 KiB (...)' -> 24985.6 bytes; '1.2 s (...)' -> 1.2 seconds.
    Takes the leading total of a status-store metric string."""
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class SparkCounts:
    """Cursor over Spark's job and SQL-execution ids."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._statuses = gw.jvm.java.util.ArrayList()
        self.job_cursor = -1
        self.exec_cursor = -1
        self.new_jobs()
        self.sql_profile()

    def new_jobs(self) -> list[int]:
        """Job ids submitted since the last call (ids are dense; a short
        gap is tolerated in case one is still being registered)."""
        out, j, misses = [], self.job_cursor + 1, 0
        while misses < 3:
            if self.tracker.getJobInfo(j) is None:
                misses += 1
            else:
                out.append(j)
                misses = 0
            j += 1
        if out:
            self.job_cursor = out[-1]
        return out

    def job_profile(self, job_ids: list[int]) -> dict:
        """Stage/task counters and job intervals for ``job_ids``."""
        p = dict.fromkeys(STAGE_FIELDS, 0.0)
        intervals = []
        stage_ids: set[int] = set()
        for j in job_ids:
            jd = self.store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self._statuses, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                p["stages"] += 1
                p["tasks"] += s.numCompleteTasks()
                p["failed_tasks"] += s.numFailedTasks()
                p["executor_run_s"] += s.executorRunTime() / 1e3
                p["executor_cpu_s"] += s.executorCpuTime() / 1e9
                p["gc_s"] += s.jvmGcTime() / 1e3
                p["shuffle_write_bytes"] += s.shuffleWriteBytes()
                p["shuffle_read_bytes"] += s.shuffleReadBytes()
                p["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        p["jobs"] = len(job_ids)
        p["intervals"] = intervals
        return p

    def _new_executions(self) -> list:
        """SQL executions recorded since the last call.  Their ids come
        from a JVM-wide counter, so a restarted session's store does not
        start at 0; walk the store's list back to the cursor."""
        execs = self.sql_store.executionsList()
        new = []
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.executionId() <= self.exec_cursor:
                break
            new.append(ex)
        if new:
            self.exec_cursor = new[0].executionId()
        return new

    def sql_profile(self) -> dict:
        """SQL metrics of executions since the last call, each
        accumulator summed once (AQE re-plans relist the same one)."""
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for ex in self._new_executions():
            vals = self.sql_store.executionMetrics(ex.executionId())
            mets = ex.metrics()
            seen: set[int] = set()
            for i in range(mets.size()):
                m = mets.apply(i)
                key = SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out

    def storage_bytes(self) -> int:
        """Memory + disk held by persisted RDDs/frames right now."""
        return sum(
            int(r.memSize()) + int(r.diskSize())
            for r in self.sc._jsc.sc().getRDDStorageInfo()
        )


class Tracer:
    """In-memory spans with wrapper install/uninstall."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.calls: dict[str, int] = defaultdict(int)

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "layer": layer, "op": self.op,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, layer: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (module function or class method) by a
        wrapper recording a span ``name``; ``on_result`` sees each return
        value."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.calls[name] += 1
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name: duration minus direct children."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        names = {s["name"]: s["layer"] for s in self.spans}
        for name, v in self.self_times().items():
            out[names[name]] += v
        return dict(out)
