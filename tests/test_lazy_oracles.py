"""Importing the catalog builds no oracle SQL.

The 183 exact DuckDB oracles are ~7.2 MB of SQL, and the lens-inlining
ones import the generated ``functions.*_lens`` maps (~2.7 MB of
source). ``queries_catalog`` registers them as builders and binds
``ORACLES`` on first read, so a process that only runs queries pays for
none of it. Checked in a fresh interpreter, where nothing else has read
``ORACLES`` yet."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_PROBE = """
import json, sys

def lens_modules():
    return sorted(
        m for m in sys.modules
        if m.startswith("hadoop_data_pipeline_spark.functions.")
        and m.endswith("_lens")
    )

import hadoop_data_pipeline_spark.queries_catalog as qc
after_import = {"lens": lens_modules(), "built": "ORACLES" in vars(qc)}

import __spark_entry__ as e
oracles = e.oracle_sql()
print(json.dumps({
    "after_import": after_import,
    "after_read": {"lens": lens_modules(), "built": "ORACLES" in vars(qc)},
    "same_dict": qc.ORACLES is qc.ORACLES,
    "keys": list(oracles),
    "all_str": all(isinstance(v, str) and v.strip() for v in oracles.values()),
    "window": qc._DRIVER_WINDOW,
    "queries": list(e.queries()),
    "unknown_attr": hasattr(qc, "NO_SUCH_NAME"),
}))
"""


def _probe() -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_import_is_lazy_and_first_read_builds_every_oracle():
    got = _probe()
    assert got["after_import"] == {"lens": [], "built": False}
    assert got["after_read"]["built"] is True
    assert len(got["after_read"]["lens"]) == 4
    assert got["same_dict"] is True
    assert got["unknown_attr"] is False

    keys, window = got["keys"], got["window"]
    assert len(keys) == 183
    assert got["all_str"] is True
    # driver-window entries come first, in window order; the rest keep
    # the catalog's registration order
    eligible = [n for n in window if n in keys]
    assert keys[: len(eligible)] == eligible
    assert got["queries"][: len(window)] == window
    assert keys == [n for n in got["queries"] if n in set(keys)]
