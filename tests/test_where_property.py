"""Property-based Where-grammar testing (the reference's core strategy,
SURVEY §5: hypothesis strategies + executable pure-Python oracle,
chromadb/test/property/strategies.py:961-1073 + test_filtering.py:32-109).

Three implementations of the same clause must agree row-for-row:
1. the Spark Column compiler (engine path),
2. the DuckDB SQL compiler (oracle twin),
3. a from-scratch pure-Python evaluator of the documented semantics.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from chroma_spark.where import (
    where_doc_to_column,
    where_doc_to_sql,
    where_to_column,
    where_to_sql,
)

# ---------------------------------------------------------------------------
# Fixed record set (seeded): typed keys with ~25% missing values, so
# missing-key semantics are exercised on every clause.
# ---------------------------------------------------------------------------

_INTS = [0, 1, 2, 5, 7]
_FLOATS = [0.0, 1.0, 2.5, -1.5]
_STRS = ["red", "green", "blue", ""]
_WORDS = ["alpha", "beta", "gamma", "delta x", ""]


def _make_records(n=60, seed=42):
    rng = random.Random(seed)

    def maybe(pool):
        return None if rng.random() < 0.25 else rng.choice(pool)

    return [
        {
            "id": str(i),
            "i": maybe(_INTS),
            "f": maybe(_FLOATS),
            "s": maybe(_STRS),
            "b": maybe([True, False]),
            "document": maybe(_WORDS),
        }
        for i in range(n)
    ]


RECORDS = _make_records()


@pytest.fixture(scope="module")
def sdf(spark):
    df = spark.createDataFrame(
        [tuple(r.values()) for r in RECORDS],
        "id STRING, i BIGINT, f DOUBLE, s STRING, b BOOLEAN, document STRING",
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def duck_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE r (id VARCHAR, i BIGINT, f DOUBLE, s VARCHAR, b BOOLEAN, document VARCHAR)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?, ?, ?, ?)", [tuple(r.values()) for r in RECORDS])
    yield con
    con.close()


# ---------------------------------------------------------------------------
# Pure-Python oracle: the documented semantics, implemented independently.
# ---------------------------------------------------------------------------


def py_matches(rec: dict, where: dict) -> bool:
    if len(where) > 1:  # implicit $and over a multi-key dict
        return all(py_matches(rec, {k: v}) for k, v in where.items())
    [(key, operand)] = where.items()
    if key == "$and":
        return all(py_matches(rec, w) for w in operand)
    if key == "$or":
        return any(py_matches(rec, w) for w in operand)
    if not isinstance(operand, dict):
        operand = {"$eq": operand}
    [(op, val)] = operand.items()
    v = rec.get(key)
    if op == "$eq":
        return v is not None and v == val
    if op == "$ne":
        return v is None or v != val
    if op == "$in":
        return v is not None and v in val
    if op == "$nin":
        return v is None or v not in val
    # range ops: key must exist
    if v is None:
        return False
    return {"$gt": v > val, "$gte": v >= val, "$lt": v < val, "$lte": v <= val}[op]


def py_doc_matches(rec: dict, wd: dict) -> bool:
    [(op, val)] = wd.items()
    if op == "$and":
        return all(py_doc_matches(rec, w) for w in val)
    if op == "$or":
        return any(py_doc_matches(rec, w) for w in val)
    doc = rec.get("document") or ""
    if op == "$contains":
        return val in doc
    if op == "$not_contains":
        return val not in doc
    import re

    if op == "$regex":
        return re.search(val, doc) is not None
    return re.search(val, doc) is None  # $not_regex


# ---------------------------------------------------------------------------
# Clause strategies: typed per key, recursive composites (depth <= 2)
# ---------------------------------------------------------------------------

# int/float literals cross both numeric keys: the reference allows
# cross-type equality (int 1 == float 1.0, sqlite.py:694-708) and both
# engines + the Python oracle coerce identically.
_KEY_POOLS = {
    "i": _INTS + [3, 1.0, 2.5],
    "f": _FLOATS + [0.5, 1, 2],
    "s": _STRS + ["violet"],
    "b": [True, False],
}


def _leaf(pools=_KEY_POOLS):
    def build(key, draw_op, val):
        return {key: val} if draw_op == "short" else {key: {draw_op: val}}

    def typed(key):
        pool = pools[key]
        scalar = st.sampled_from(pool)
        ops = ["short", "$eq", "$ne", "$in", "$nin"]
        if key != "b":
            ops += ["$gt", "$gte", "$lt", "$lte"]
        return st.tuples(st.sampled_from(ops), scalar, st.lists(scalar, min_size=1, max_size=3)).map(
            lambda t: build(key, t[0], t[2] if t[0] in ("$in", "$nin") else t[1])
        )

    return st.sampled_from(list(pools)).flatmap(typed)


def _where(pools=_KEY_POOLS):
    return st.recursive(
        _leaf(pools),
        lambda children: st.tuples(
            st.sampled_from(["$and", "$or"]), st.lists(children, min_size=1, max_size=3)
        ).map(lambda t: {t[0]: t[1]}),
        max_leaves=5,
    )


# pools including a key NEVER present in the record schema: positive ops on
# it must fail, $ne/$nin must match (test_filtering.py:59-66); the compilers
# constant-fold it (the DuckDB twin via known_keys, the Spark compiler via
# the frame's schema) instead of raising AnalysisException
_ABSENT_POOLS = {**_KEY_POOLS, "zz_absent": ["red", "blue"]}
_KNOWN = frozenset({"id", "i", "f", "s", "b", "document"})


def _regex_pattern():
    """Random dialect-safe patterns (regex_dialect grammar): literals,
    classes, quantifiers, alternation, groups, anchors — every generated
    pattern must validate AND evaluate identically in Java rlike, DuckDB
    regexp_matches, and Python re."""
    atom = st.one_of(
        st.sampled_from(["a", "l", "t", "de", "ph", "x", "zz"]),
        st.sampled_from(["[gd]", "[a-f]", "[^z ]", r"\w", r"\d", "."]),
    )
    quantified = st.tuples(atom, st.sampled_from(["", "", "*", "+", "?", "{1,2}", "*?"])).map(
        lambda t: f"(?:{t[0]}){t[1]}" if len(t[0]) > 1 and t[1] else t[0] + t[1]
    )
    seq = st.lists(quantified, min_size=1, max_size=3).map("".join)
    alt = st.lists(seq, min_size=1, max_size=2).map("|".join).map(
        lambda p: f"(?:{p})" if "|" in p else p
    )
    return st.tuples(st.sampled_from(["", "^"]), alt, st.sampled_from(["", "$"])).map(
        lambda t: t[0] + t[1] + t[2]
    )


def _where_doc():
    frag = st.sampled_from(["alpha", "a", "x", "zz", "delta", "e"])
    pat = st.one_of(st.sampled_from(["^al", "a.a", "[gd]", "ta$", "a+l?"]), _regex_pattern())
    leaf = st.one_of(
        frag.map(lambda v: {"$contains": v}),
        frag.map(lambda v: {"$not_contains": v}),
        pat.map(lambda v: {"$regex": v}),
        pat.map(lambda v: {"$not_regex": v}),
    )
    return st.recursive(
        leaf,
        lambda ch: st.tuples(st.sampled_from(["$and", "$or"]), st.lists(ch, min_size=1, max_size=2)).map(
            lambda t: {t[0]: t[1]}
        ),
        max_leaves=4,
    )


# ---------------------------------------------------------------------------
# Properties
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(w=_where())
def test_duckdb_twin_matches_python_oracle(duck_con, w):
    expect = {r["id"] for r in RECORDS if py_matches(r, w)}
    got = {row[0] for row in duck_con.execute(f"SELECT id FROM r WHERE {where_to_sql(w)}").fetchall()}
    assert got == expect, f"clause {w}"


@settings(max_examples=200, deadline=None)
@given(wd=_where_doc())
def test_duckdb_doc_twin_matches_python_oracle(duck_con, wd):
    expect = {r["id"] for r in RECORDS if py_doc_matches(r, wd)}
    got = {
        row[0]
        for row in duck_con.execute(f"SELECT id FROM r WHERE {where_doc_to_sql(wd)}").fetchall()
    }
    assert got == expect, f"clause {wd}"


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w=_where())
def test_spark_compiler_matches_python_oracle(sdf, w):
    expect = {r["id"] for r in RECORDS if py_matches(r, w)}
    got = {row["id"] for row in sdf.filter(where_to_column(w)).select("id").collect()}
    assert got == expect, f"clause {w}"


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(wd=_where_doc())
def test_spark_doc_compiler_matches_python_oracle(sdf, wd):
    expect = {r["id"] for r in RECORDS if py_doc_matches(r, wd)}
    got = {row["id"] for row in sdf.filter(where_doc_to_column(wd)).select("id").collect()}
    assert got == expect, f"clause {wd}"


@settings(max_examples=200, deadline=None)
@given(w=_where(_ABSENT_POOLS))
def test_absent_key_duckdb_twin(duck_con, w):
    """known_keys compilation: clauses over a key absent from the schema
    agree with the pure-Python missing-key semantics."""
    expect = {r["id"] for r in RECORDS if py_matches(r, w)}
    sql = where_to_sql(w, known_keys=_KNOWN)
    got = {row[0] for row in duck_con.execute(f"SELECT id FROM r WHERE {sql}").fetchall()}
    assert got == expect, f"clause {w}"


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w=_where(_ABSENT_POOLS))
def test_absent_key_spark_compiler(sdf, w):
    expect = {r["id"] for r in RECORDS if py_matches(r, w)}
    col = where_to_column(w, sdf.schema)
    got = {row["id"] for row in sdf.filter(col).select("id").collect()}
    assert got == expect, f"clause {w}"


# literals of every type on every key: the reference's MetadataValue is
# type-strict (metadata.rs:659-682), so a literal no column value can equal
# fails positive ops and matches $ne/$nin instead of raising or coercing
_CROSS_POOLS = {
    "i": [1, 2.5, "1", "x", True, False],
    "f": [1.0, 2, "2.5", True],
    "s": ["red", "", 1, 0.0, True],
    "b": [True, False, 1, 0, "true"],
    "zz_absent": ["red", 1, True],
}


def _cross_leaf():
    def typed(key):
        scalar = st.sampled_from(_CROSS_POOLS[key])
        ranged = scalar.filter(lambda v: not isinstance(v, bool))  # validation rejects bool ranges
        return st.one_of(
            scalar.map(lambda v: {key: v}),
            st.tuples(st.sampled_from(["$eq", "$ne"]), scalar).map(lambda t: {key: {t[0]: t[1]}}),
            st.tuples(st.sampled_from(["$in", "$nin"]), st.lists(scalar, min_size=1, max_size=3)).map(
                lambda t: {key: {t[0]: t[1]}}
            ),
            st.tuples(st.sampled_from(["$gt", "$gte", "$lt", "$lte"]), ranged).map(
                lambda t: {key: {t[0]: t[1]}}
            ),
        )

    return st.sampled_from(list(_CROSS_POOLS)).flatmap(typed)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    w=st.recursive(
        _cross_leaf(),
        lambda ch: st.tuples(st.sampled_from(["$and", "$or"]), st.lists(ch, min_size=1, max_size=3)).map(
            lambda t: {t[0]: t[1]}
        ),
        max_leaves=4,
    )
)
def test_spark_compiler_types_literals_like_where_matches(sdf, w):
    """Compiled against the frame's schema, a clause with type-mismatched
    literals selects exactly the rows ``where_matches`` accepts — no
    AnalysisException, no CAST_INVALID_INPUT, no string-to-number coercion."""
    from chroma_spark.where import where_matches

    expect = {r["id"] for r in RECORDS if where_matches(r, w)}
    got = {row["id"] for row in sdf.filter(where_to_column(w, sdf.schema)).select("id").collect()}
    assert got == expect, f"clause {w}"


@settings(max_examples=200, deadline=None)
@given(w=_where(_ABSENT_POOLS))
def test_where_matches_evaluator(w):
    """The engine's own pure-Python evaluator (where.where_matches, used to
    fold DELETE-WHERE log records) agrees with this test's independent
    oracle implementation."""
    from chroma_spark.where import where_matches

    for r in RECORDS:
        assert where_matches(r, w) == py_matches(r, w), f"clause {w} record {r}"


@settings(max_examples=100, deadline=None)
@given(wd=_where_doc())
def test_where_doc_matches_evaluator(wd):
    from chroma_spark.where import where_doc_matches

    for r in RECORDS:
        assert where_doc_matches(r.get("document"), wd) == py_doc_matches(r, wd), f"clause {wd}"


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w=_where(), wd=_where_doc())
def test_combined_filters_agree(sdf, duck_con, w, wd):
    expect = {r["id"] for r in RECORDS if py_matches(r, w) and py_doc_matches(r, wd)}
    sql = f"SELECT id FROM r WHERE {where_to_sql(w)} AND {where_doc_to_sql(wd)}"
    duck = {row[0] for row in duck_con.execute(sql).fetchall()}
    spark_ids = {
        row["id"]
        for row in sdf.filter(where_to_column(w) & where_doc_to_column(wd)).select("id").collect()
    }
    assert duck == expect and spark_ids == expect, f"{w} / {wd}"
