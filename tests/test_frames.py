"""local_frame: driver-built rows as an Arrow LocalRelation, equal to what
``spark.createDataFrame(<list>, schema)`` returns, and the only way the
engine builds a frame from driver rows."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import types as T

from chroma_spark.frames import local_frame
from chroma_spark.sparse_vector import SPARSE_VECTOR_TYPE

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "chroma_spark")

WAL_SCHEMA = T.StructType(
    [
        T.StructField("seq_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("document", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("nums", T.ArrayType(T.DoubleType())),
        T.StructField("sv", SPARSE_VECTOR_TYPE),
    ]
)

CASES = {
    "float32_query_vectors": (
        "query_id INT, embedding ARRAY<FLOAT>",
        [(0, [0.1, -2.5, 3.4028234663852886e38]), (1, [1e-45, 0.3])],
    ),
    "nulls": (
        "query_id INT, embedding ARRAY<FLOAT>, s STRING",
        [(0, None, None), (None, [None, 1.0], "x")],
    ),
    "sparse_struct_tuples": (
        "query_id INT, sparse STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
        [(0, ([1, 7], [0.5, 0.25])), (1, None)],
    ),
    "wal_batch": (
        WAL_SCHEMA,
        [
            (
                41, "ADD", "a", [0.1, 0.2], "ünïcödé 😀 中文", True, 2.5, ["x", "ÿ"],
                [1.0, 2.0], {"indices": [3], "values": [0.7], "labels": None},
            ),
            (
                42, "UPSERT", "b", None, None, False, None, [], None,
                {"indices": [], "values": [], "labels": ["l"]},
            ),
            (9_000_000_000, "ADD", "c", [], "", None, -0.0, None, [], None),
        ],
    ),
    "zero_rows": (WAL_SCHEMA, []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_round_trips_like_create_dataframe(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def _create_dataframe_calls(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function name) of every ``*.createDataFrame(...)``
    call in one source file."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    found: list[tuple[int, str | None]] = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((child.lineno, fn))
            walk(child, fn)

    walk(tree, None)
    return found


def test_driver_rows_only_enter_spark_through_local_frame():
    """One mechanism for driver-built frames: a ``createDataFrame(<list>)``
    plans as a Python RDD that every consumer re-runs through Python
    workers, so engine code must call ``frames.local_frame`` instead."""
    stray = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            for line, fn in _create_dataframe_calls(path):
                if (rel, fn) != ("frames.py", "local_frame"):
                    stray.append(f"{rel}:{line}")
    assert stray == [], f"createDataFrame outside frames.local_frame: {stray}"


def _py_files(*dirs: str):
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    with open(path, encoding="utf-8") as f:
                        yield os.path.relpath(path, os.path.dirname(PKG)), ast.parse(f.read(), path)


def test_wal_fold_is_one_jvm_mechanism():
    """One WAL fold: nothing under ``sources/`` runs a grouped-map pandas
    fold or imports pandas (a predicate delete folds in the JVM, between
    vectorized segments), and no ``materialize`` caller picks a fold."""
    stray = []
    for rel, tree in _py_files(os.path.join(PKG, "sources")):
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "applyInPandas":
                stray.append(f"{rel}:{node.lineno} applyInPandas")
            elif isinstance(node, ast.Import) and any(a.name.split(".")[0] == "pandas" for a in node.names):
                stray.append(f"{rel}:{node.lineno} import pandas")
            elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
                stray.append(f"{rel}:{node.lineno} from pandas")
    repo = os.path.dirname(PKG)
    for rel, tree in _py_files(PKG, os.path.join(repo, "scripts"), os.path.join(repo, "tests")):
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func.attr if isinstance(node.func, ast.Attribute) else getattr(node.func, "id", None)
            if fn == "materialize" and any(k.arg == "impl" for k in node.keywords):
                stray.append(f"{rel}:{node.lineno} materialize(impl=...)")
    assert stray == [], stray
