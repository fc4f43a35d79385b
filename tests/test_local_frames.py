"""Driver-side frames are Arrow local relations.

Every frame the engine builds from Python rows goes through
:func:`session.local_frame`, which plans as a ``LocalRelation``. A
list handed to ``createDataFrame`` would plan as a ``LogicalRDD`` over
a ``PythonRDD`` instead, and every job reading it would fork and feed
Python workers, even for zero rows. These tests pin the plan shape of
each call site, the absence of list-based ``createDataFrame`` calls in
the package, and the helper's typing."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "hadoop_data_pipeline_spark"


def _leaf_names(df) -> list[str]:
    """Class names of the leaves of ``df``'s optimized logical plan."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kids = node.children()
        if kids.size() == 0:
            out.append(node.getClass().getSimpleName())
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


# ---------------------------------------------------------------------------
# the helper
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([], "doc_id string, band_id int, band_key string"),
        (
            [(1, [0.5, -1.25, 3.0], 2), (2, None, None), (3, [], 0)],
            "vec_id bigint, embedding array<float>, label int",
        ),
        ([("a", "a"), ("b", "a")], "__n string, __l string"),
        ([(2**40, 7), (-1, None)], "__n bigint, __l bigint"),
    ],
)
def test_local_frame_roundtrip(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    assert df.schema == T._parse_datatype_string(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    assert _leaf_names(df) == ["LocalRelation"]


def test_no_list_create_dataframe_outside_helper():
    """Every ``createDataFrame`` call in the package sits inside
    ``session.local_frame``; any other would bring back the RDD path."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), rel)
        allowed: set[ast.AST] = set()
        if rel == "session.py":
            (helper,) = [
                f
                for f in tree.body
                if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
            ]
            allowed = set(ast.walk(helper))
        offenders += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and n not in allowed
        ]
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# call sites
# ---------------------------------------------------------------------------


SOURCE_SCHEMA = "doc_id string, text string, lang string, quality double"


def test_sink_empty_state_is_local_relation(spark, tmp_path):
    from hadoop_data_pipeline_spark.streaming.embed_sink import (
        StreamingEmbeddingSink,
    )
    from hadoop_data_pipeline_spark.streaming.media_sink import (
        StreamingMediaSink,
    )
    from hadoop_data_pipeline_spark.streaming.neardup_sink import (
        StreamingNearDupSink,
    )
    from hadoop_data_pipeline_spark.streaming.prep_sink import (
        StreamingPrepSink,
    )

    d = str(tmp_path)
    near = StreamingNearDupSink(
        spark, f"{d}/src", SOURCE_SCHEMA, f"{d}/n_clean", f"{d}/n_idx",
        f"{d}/n_ckpt",
    )
    prep = StreamingPrepSink(
        spark, f"{d}/src", SOURCE_SCHEMA, f"{d}/p_clean", f"{d}/p_dig",
        f"{d}/p_idx", f"{d}/p_ckpt",
    )
    media = StreamingMediaSink(
        spark, f"{d}/src", SOURCE_SCHEMA, f"{d}/m_clean", f"{d}/m_idx",
        f"{d}/m_ckpt",
    )
    vec_schema = "vec_id string, embedding array<float>"
    embed = StreamingEmbeddingSink(
        spark, f"{d}/src", vec_schema, f"{d}/e_store", f"{d}/e_ckpt"
    )
    embed_cells = StreamingEmbeddingSink(
        spark, f"{d}/src", vec_schema, f"{d}/c_store", f"{d}/c_ckpt",
        centroids=[[1.0, 0.0], [0.0, 1.0]],
    )
    frames = {
        "neardup.clean": (near._clean_docs(), "doc_id string, text string"),
        "neardup.index": (
            near._band_index(),
            "doc_id string, band_id int, band_key string",
        ),
        "prep.clean": (prep._clean_docs(), "doc_id string, text string"),
        "prep.index": (
            prep._band_index(),
            "doc_id string, band_id int, band_key string",
        ),
        "media.index": (
            media._band_index(),
            "doc_id string, frame_idx int, dhash bigint, band_id int, "
            "band_key bigint",
        ),
        "embed.store": (
            embed.store(),
            "vec_id string, embedding array<float>, norm double, bucket int",
        ),
        "embed.store_cells": (
            embed_cells.store(),
            "vec_id string, embedding array<float>, norm double, "
            "bucket int, cell int",
        ),
    }
    for name, (df, ddl) in frames.items():
        assert df.schema == T._parse_datatype_string(ddl), name
        assert _leaf_names(df) == ["LocalRelation"], name
        assert df.count() == 0, name


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_connected_components_driver_mapping_is_local(spark, id_type):
    from hadoop_data_pipeline_spark.operators import dedup

    nodes = spark.range(6).selectExpr(f"CAST(id AS {id_type}) AS doc_id")
    pairs = spark.range(1).selectExpr(
        f"CAST(1 AS {id_type}) AS id_a", f"CAST(2 AS {id_type}) AS id_b"
    ).unionByName(
        spark.range(1).selectExpr(
            f"CAST(2 AS {id_type}) AS id_a", f"CAST(4 AS {id_type}) AS id_b"
        )
    )
    out = dedup.connected_components(pairs, nodes)
    leaves = _leaf_names(out)
    assert "LocalRelation" in leaves and "LogicalRDD" not in leaves, leaves
    got = {str(r.doc_id): str(r.cluster_id) for r in out.collect()}
    assert got == {
        "0": "0", "1": "1", "2": "1", "3": "3", "4": "1", "5": "5",
    }


def test_perceptron_model_frame_is_local(spark):
    from hadoop_data_pipeline_spark.operators import learn

    docs = spark.range(8).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'a a a b' ELSE 'a b c d' END AS text",
    )
    model = learn.perceptron_weights(docs, epochs=2, n_features=8)
    assert model.schema == T._parse_datatype_string("f int, w bigint")
    assert _leaf_names(model) == ["LocalRelation"]
    assert -1 in {r.f for r in model.collect()}
