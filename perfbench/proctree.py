"""CPU time and resident memory of this process and its descendants: the
JVM it launches and the Python workers the JVM forks.

Both come from ``/proc``.  CPU time is user plus system time, with the
time of reaped children (``cutime``/``cstime``) included, so a Python
worker that exits between two readings still counts.  On a guest with
paravirtual steal accounting the kernel leaves time the host gave to
other guests out of these counters, so a slow stretch of a shared host
shows in wall time but not here.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields after the command name) of this process and
    every descendant alive now."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = _stat_fields(d)
        except (OSError, IndexError):
            continue
        children.setdefault(int(f[1]), []).append((int(d), f))
    me = os.getpid()
    out = [(me, _stat_fields(me))]
    todo = [me]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid[0])
    return out


def cpu_s() -> float:
    """CPU seconds used so far by the process tree."""
    # fields 11-14 after the name: utime, stime, cutime, cstime
    return sum(int(x) for _, f in tree() for x in f[11:15]) / _TICK


def rss_bytes() -> int:
    """Resident bytes of the process tree (pages a forked worker shares
    with its parent count once per process)."""
    total = 0
    for pid, _ in tree():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total
