"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import data  # noqa: E402
import workloads as wl  # noqa: E402
from fingerprint import fingerprint  # noqa: E402


def _ctx():
    return wl.Context(None, None, 1.0, 4)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_seed_regenerates_identical_inputs(tmp_path):
    def write_all(d, seed):
        os.makedirs(d)
        docs, embs = data.stream_chunks(seed, 2, 200)
        paths = []
        for i, t in enumerate(docs + embs):
            paths.append(os.path.join(d, f"{i}.parquet"))
            pq.write_table(t, paths[-1])
        paths.append(os.path.join(d, "year.csv"))
        data.write_finance_csv(paths[-1], data.finance_year(
            np.random.default_rng([seed, 1]), 2020, bad=True))
        return _digest(paths)

    a = write_all(str(tmp_path / "a"), 5)
    assert a == write_all(str(tmp_path / "b"), 5)
    assert a != write_all(str(tmp_path / "c"), 6)


def test_catalog_fixture_is_deterministic():
    one = data.catalog_tables(np.random.default_rng(data.CATALOG_SEED))
    two = data.catalog_tables(np.random.default_rng(data.CATALOG_SEED))
    assert one.keys() == two.keys()
    assert all(one[k].equals(two[k]) for k in one)
    assert one["lineitem"].num_rows == 600_000


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == wl.units(0)
    assert layer == wl.units(1)
    assert {w["name"] for w in spec["workloads"]} == set(wl.ALL)
    assert spec["paths"] == ["perfbench"]


def test_lists_partition_the_catalog():
    with open(os.path.join(BENCH, "lists.json")) as fh:
        lists = json.load(fh)
    wl.check_partition(lists)
    broken = dict(lists, catalog_sql=lists["catalog_sql"][1:])
    with pytest.raises(ValueError, match="in neither list"):
        wl.check_partition(broken)
    both = dict(lists, catalog_sql=lists["catalog_sql"] + lists["catalog_pipelines"][:1])
    with pytest.raises(ValueError, match="in both lists"):
        wl.check_partition(both)


def test_perturbed_catalog_result_fails():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    expected = {"q": fingerprint(df)}
    ctx = _ctx()
    wl.Catalog.check_result(ctx, "q", fingerprint(df.iloc[::-1]), expected)
    assert (ctx.attempted, ctx.failed) == (1, 0)  # order-insensitive
    bad = df.copy()
    bad.loc[1, "v"] = 1.26
    wl.Catalog.check_result(ctx, "q", fingerprint(bad), expected)
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_wrong_dq_outcome_fails():
    ctx = _ctx()
    res = SimpleNamespace(processed=[2015, 2017], failed=[2016])
    wl.Medallion.check_dq(ctx, res, [2015, 2017], [2016])
    assert ctx.failed == 0
    wl.Medallion.check_dq(ctx, res, [2015, 2016, 2017], [])
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_serving_answers_use_the_raw_csv_rows():
    m = wl.Medallion()
    inputs = m.prepare(3)
    long = inputs["long"]
    y = inputs["good"][0]
    stats = m.expected_answer(long, "quick_stats", y, None)
    assert stats["total_budget"] > stats["total_spent"] > 0
    assert m.expected_answer(long, "available_years", y, None) == sorted(inputs["good"], reverse=True)
    assert inputs["bad"] not in inputs["good"]


def _write_state(root, name, df):
    d = os.path.join(root, name, "store" if name == "embed_sink" else "clean")
    os.makedirs(d, exist_ok=True)
    df.to_parquet(os.path.join(d, "part-0.parquet"))


def test_duplicated_stream_row_fails(tmp_path):
    inputs = wl.Stream().prepare(4)
    docs = pd.concat([c.to_pandas() for c in inputs["docs"]], ignore_index=True)
    embs = pd.concat([c.to_pandas() for c in inputs["embs"]], ignore_index=True)
    # the exact-dedup reference, tick by tick: first occurrence per text
    seen, keep = set(), []
    for chunk in inputs["docs"]:
        c = chunk.to_pandas().sort_values("doc_id")
        c = c[~c["text"].duplicated() & ~c["text"].isin(seen)]
        seen |= set(c["text"])
        keep.append(c)
    clean = pd.concat(keep)[["doc_id", "text"]]
    vecs = embs[~embs["embedding"].map(tuple).duplicated()]
    root = str(tmp_path)
    for name in wl.SINKS:
        _write_state(root, name, vecs if name == "embed_sink" else clean)
    ctx = _ctx()
    wl.Stream.check_state(ctx, inputs, root)
    assert ctx.attempted > 0 and ctx.failed == 0, ctx.notes
    _write_state(root, "prep_sink", pd.concat([clean, clean.iloc[:1]]))
    ctx = _ctx()
    wl.Stream.check_state(ctx, inputs, root)
    assert ctx.failed >= 1
    assert len(docs) == len(embs)


def test_panel_spans_the_ranked_list_within_budget():
    trace = {f"q{i}": {"build_s": 0.0, "exec_s": float(i)} for i in range(10)}
    names = sorted(trace)
    panel = wl.pick_panel(names, trace, 12.0)
    assert panel == wl.pick_panel(list(reversed(names)), trace, 12.0)
    assert panel == ["q2", "q7"]  # the most evenly spaced picks within 12 s


def test_tree_cpu_counts_reaped_children():
    import subprocess

    import proctree

    before = proctree.cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert proctree.cpu_s() - before >= 0.25


def test_summaries_take_medians_per_operation():
    ctx = _ctx()
    for name, cpu in [("a", 1.0), ("b", 5.0), ("a", 3.0), ("b", 7.0), ("a", 2.0)]:
        ctx.ops.append({"kind": "query", "name": name, "cpu_s": cpu, "wall_s": cpu / 2})
    assert wl.Catalog.summary(ctx, "cpu_s") == (2.0 + 6.0, 4.0)
    assert wl.Catalog.summary(ctx, "wall_s") == (4.0, 2.0)
    ctx = _ctx()
    ctx.ops += [{"kind": k, "name": n, "cpu_s": c, "wall_s": c}
                for k, n, c in [("etl", "backfill", 4.0), ("tick", "dedup_sink", 2.0),
                                ("request", "quick_stats", 0.5), ("request", "ask", 0.75),
                                ("request", "quick_stats", 0.25)]]
    assert wl.MedallionStream.summary(ctx, "cpu_s") == (6.0, (0.375 + 0.75) / 2)
