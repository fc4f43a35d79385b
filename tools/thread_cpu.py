"""CPU seconds per thread kind of a command's process tree.

Usage:
    python tools/thread_cpu.py CMD [ARG ...]

Runs ``CMD`` and, every half second until it exits, reads
``/proc/<pid>/task/<tid>/stat`` of every process in its tree (read
only). Each thread's CPU (user + system) is attributed to a
normalized name:

* JVM threads by their thread name with pool numbers folded: the C2 and
  C1 JIT compilers, ``GC`` (every collector thread), ``Executor task
  launch`` (Spark task threads), ``py4j handler Thread-N`` (the JVM side
  of each Python thread's py4j connection), and the rest as named
  (``dispatcher-event-loop-N``, ``VM Thread``, ...);
* Python processes as one row each for the driver (no JVM above it in
  the tree) and the workers (forked below a JVM).

It prints one line per name (rows under 0.01 s left out), largest
first, then the ``unattributed`` remainder (CPU of threads that exited
between two samples, after their last one) and the process tree's
``total`` from the kernel's account of reaped children. The kernel only
counts descendants their parents reaped; where the samples add up to
more, the total is their sum. The last stdout line is the same table
as JSON. The exit status is the command's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")
_INTERVAL = 0.5  # seconds between two samples

# Linux keeps the first 15 bytes of a thread name, so JVM names arrive
# truncated ("C2 CompilerThre", "Executor task l").
_JVM_RULES = [
    (re.compile(r"^C2 Compiler"), "C2 compiler"),
    (re.compile(r"^C1 Compiler"), "C1 compiler"),
    (re.compile(r"^(GC Thread|G1 |ZWorker|ZDriver|ZDirector|Shenandoah)"),
     "GC"),
    (re.compile(r"^Executor task l"), "Executor task launch"),
    (re.compile(r"^Thread-\d+$"), "py4j handler Thread-N"),
]
_DIGITS = re.compile(r"\d+")


def normalize(comm: str, process: str) -> str:
    """Row name for a thread called ``comm`` in a process of kind
    ``process`` (``"jvm"``, ``"python driver"``, ``"python worker"`` or
    ``"other"``)."""
    if process == "python driver":
        return "Python driver"
    if process == "python worker":
        return "Python workers"
    if process == "jvm":
        for pattern, name in _JVM_RULES:
            if pattern.search(comm):
                return name
    return _DIGITS.sub("N", comm)


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after the comm) of one ``stat`` file."""
    with open(path) as fh:
        raw = fh.read()
    end = raw.rindex(")")
    return raw[raw.index("(") + 1 : end], raw[end + 1 :].split()


def _tree(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (comm, ppid) for ``root`` and every descendant alive now."""
    procs: dict[int, tuple[str, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                comm, f = _stat(f"/proc/{d}/stat")
            except (OSError, ValueError):
                continue
            procs[int(d)] = (comm, int(f[1]))
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


def _kind(pid: int, tree: dict[int, tuple[str, int]]) -> str:
    comm = tree[pid][0]
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        parent = tree[pid][1]
        while parent in tree:
            if tree[parent][0] == "java":
                return "python worker"
            parent = tree[parent][1]
        return "python driver"
    return "other"


def sample(root: int, seen: dict[tuple, tuple[str, float]]) -> None:
    """Record the CPU seconds so far of every thread in ``root``'s
    tree into ``seen``, keyed by (pid, tid, start time)."""
    tree = _tree(root)
    for pid in tree:
        kind = _kind(pid, tree)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except (OSError, ValueError):
                continue
            # fields after the comm: 11 utime, 12 stime, 19 starttime
            cpu = (int(f[11]) + int(f[12])) / _TICK
            seen[(pid, int(tid), f[19])] = (normalize(comm, kind), cpu)


def summarize(seen: dict, total_s: float) -> dict[str, float]:
    rows: dict[str, float] = {}
    for name, cpu in seen.values():
        rows[name] = rows.get(name, 0.0) + cpu
    out = dict(sorted(rows.items(), key=lambda kv: -kv[1]))
    sampled = sum(rows.values())
    out["unattributed"] = max(total_s - sampled, 0.0)
    # a descendant nobody reaped is missing from the kernel's total
    out["total"] = max(total_s, sampled)
    return {k: round(v, 2) for k, v in out.items() if round(v, 2) or k == "total"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    args = ap.parse_args(argv)
    if not args.cmd:
        ap.error("no command given")

    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    proc = subprocess.Popen(args.cmd)
    seen: dict = {}
    while proc.poll() is None:
        sample(proc.pid, seen)
        time.sleep(_INTERVAL)
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = (after.ru_utime - before.ru_utime) + (
        after.ru_stime - before.ru_stime
    )

    table = summarize(seen, total)
    width = max(len(k) for k in table)
    for name, cpu in table.items():
        print(f"{name:<{width}}  {cpu:9.2f} s", file=sys.stderr)
    print(json.dumps(table))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
