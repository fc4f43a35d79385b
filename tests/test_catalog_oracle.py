"""Mirror of the driver's correctness gate: every ``queries()`` entry
must match its ``oracle_sql()`` on DuckDB at sf0.001 (row count, column
names, order-insensitive values)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.oracle_check import TABLES, compare


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "event_type", "ts", "value"]


def test_every_query_has_callable_signature():
    qs = entrymod.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        assert callable(fn), name


def test_driver_window_invariants():
    """The driver hash-checks the FIRST 50 queries() keys; the window
    must stay exactly 50 registered entries, each with an exact DuckDB
    oracle — EXCEPT entries that structurally cannot have one (bound-
    oracle sketches, the rows-only BPE tokenizer), which are allowed
    in a completion round (r10 rotates in every never-driver-checked
    query, and those four ARE never-checked) but must be explicitly
    accounted for so a new exact-orable query can't silently ship
    oracle-less into a hash slot."""
    from hadoop_data_pipeline_spark.queries_catalog import (
        BOUND_ORACLES,
        _DRIVER_WINDOW,
    )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert list(qs)[:50] == _DRIVER_WINDOW
    allowed_non_exact = set(BOUND_ORACLES) | {"bpe_tokenize_docs"}
    missing = [
        n
        for n in _DRIVER_WINDOW
        if n not in oracles and n not in allowed_non_exact
    ]
    assert not missing, f"window entries without exact oracles: {missing}"


def test_pagerank_zero_row_edges(spark, tmp_path):
    """An empty lineitem has no graph: pagerank_part_supplier returns
    its empty typed result instead of dividing by a zero node count,
    which is an error under ANSI (Spark 4's default)."""
    from hadoop_data_pipeline_spark.operators.queries import unpersist_deps
    from hadoop_data_pipeline_spark.queries_catalog import (
        pagerank_part_supplier,
    )
    from hadoop_data_pipeline_spark.sources.readers import load_table

    load_table(spark, SF_SMALL, "lineitem").limit(0).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = pagerank_part_supplier(spark, str(tmp_path))
    assert out.collect() == []
    unpersist_deps(out)
    assert out.schema.simpleString() == (
        "struct<node_id:bigint,node_type:string,rank_scaled:bigint>"
    )
    full = pagerank_part_supplier(spark, SF_SMALL)
    assert full.schema.simpleString() == out.schema.simpleString()
    unpersist_deps(full)


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_SMALL).toPandas()
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.execute(oracles[name]).df()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_canon_preserves_large_exact_values():
    """Regression: numpy's scale-based round corrupts large doubles
    (12692380641200.0 -> ...200.002 via Series.round(9)); the canon
    must keep exact integer-valued floats exact, treat int64 and
    float64 representations of the same number identically, and map
    nulls to the empty string."""
    import numpy as np
    import pandas as pd

    from tools.oracle_check import _canon, compare

    big = 12692380641200.0
    a = pd.DataFrame({"k": ["x", "y", "z"],
                      "v": pd.array([big, 0.25, None], dtype="float64")})
    b = pd.DataFrame({"k": ["x", "y", "z"],
                      "v": [int(big), 0.25, None]})  # object/int mix
    ca = _canon(a)
    assert ca["v"].tolist()[0] in {"12692380641200"}  # not ...200.002
    assert not compare(a, b)

    # int64 vs float64 columns with identical values must match
    c = pd.DataFrame({"n": pd.array([1, 2, 3], dtype="int64")})
    d = pd.DataFrame({"n": pd.array([1.0, 2.0, 3.0], dtype="float64")})
    assert not compare(c, d)

    # and genuinely different values must NOT match
    e = pd.DataFrame({"n": [1.0, 2.0, 3.5]})
    assert compare(c, e)

    # big integers beyond 2^53 stay exact through the int path
    f = pd.DataFrame({"h": pd.array([2**61 + 7], dtype="int64")})
    g = pd.DataFrame({"h": pd.array([2**61 + 6], dtype="int64")})
    assert not compare(f, f.copy())
    assert compare(f, g)

    # non-finite floats normalize deterministically, nulls to ""
    h = pd.DataFrame({"x": [np.inf, -np.inf, np.nan]})
    assert _canon(h)["x"].tolist() == ["", "-inf", "inf"]
