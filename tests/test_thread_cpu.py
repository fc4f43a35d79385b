"""``tools/thread_cpu.py``: thread-name normalization and one sampled
run of a CPU-bound Python command."""

from __future__ import annotations

import json
import sys

import pytest

from tools import thread_cpu
from tools.thread_cpu import normalize, summarize


@pytest.mark.parametrize(
    "comm, process, name",
    [
        ("C2 CompilerThre", "jvm", "C2 compiler"),
        ("C1 CompilerThre", "jvm", "C1 compiler"),
        ("GC Thread#3", "jvm", "GC"),
        ("G1 Conc#0", "jvm", "GC"),
        ("G1 Refine#1", "jvm", "GC"),
        ("G1 Main Marker", "jvm", "GC"),
        ("Executor task l", "jvm", "Executor task launch"),
        ("Thread-17", "jvm", "py4j handler Thread-N"),
        ("Thread-17x", "jvm", "Thread-Nx"),
        ("rpc-server-4-1", "jvm", "rpc-server-N-N"),
        ("VM Thread", "jvm", "VM Thread"),
        ("python3", "python driver", "Python driver"),
        ("Thread-2", "python driver", "Python driver"),
        ("python3", "python worker", "Python workers"),
        # the JVM rules apply to JVM threads only
        ("C2 CompilerThre", "other", "CN CompilerThre"),
        ("GC Thread#3", "other", "GC Thread#N"),
    ],
)
def test_normalize(comm, process, name):
    assert normalize(comm, process) == name


def test_summarize_folds_threads_and_keeps_the_remainder():
    seen = {
        (1, 1, "10"): ("C2 compiler", 2.0),
        (1, 2, "11"): ("C2 compiler", 1.0),
        (1, 3, "12"): ("GC", 0.5),
        (1, 4, "13"): ("VM Thread", 0.001),
    }
    assert summarize(seen, 4.0) == {
        "C2 compiler": 3.0, "GC": 0.5, "unattributed": 0.5, "total": 4.0,
    }
    # a tree the kernel did not fully account for: total is the samples
    assert summarize(seen, 1.0)["total"] == 3.5


def test_sampled_run_attributes_the_python_driver(monkeypatch, capsys):
    busy = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.6: pass"
    )
    # sample often enough to see a 0.6 s command
    monkeypatch.setattr(thread_cpu, "_INTERVAL", 0.05)
    assert thread_cpu.main([sys.executable, "-c", busy]) == 0
    table = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert table["Python driver"] >= 0.4
    assert table["total"] >= table["Python driver"]
