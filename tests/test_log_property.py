"""Property-based WAL materialization testing: random operation sequences
folded by the Spark window/aggregate merge (cut at each pending predicate
delete) must match a pure-Python state machine implementing
operation.rs:16-35 semantics (the reference's stateful test_embeddings
machine, SURVEY §5), offset_id included."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chroma_spark.sources.log import materialize

IDS = ["a", "b", "c"]


def _op():
    return st.tuples(
        st.sampled_from(["ADD", "UPDATE", "UPSERT", "DELETE"]),
        st.sampled_from(IDS),
        st.one_of(st.none(), st.sampled_from(["d1", "d2", "d3"])),
        st.one_of(st.none(), st.sampled_from([1.0, 2.0, 3.0])),
    )


def py_fold(ops, base=None, offsets=None, start=0):
    """operation.rs:16-35: ADD ignores existing, UPDATE merges non-null into
    existing only, UPSERT both, DELETE removes (later ADD recreates).

    ``ops`` carry seqs ``start, start + 1, ...``. ``offsets``, when given,
    maps each base id to its carried offset_id (None included) and is
    updated in place to every survivor's offset_id: the seq of its current
    incarnation's insert."""
    state = dict(base or {})
    offs = {} if offsets is None else offsets
    for seq, (op, rid, doc, score) in enumerate(ops, start):
        exists = rid in state
        fields = {"document": doc, "score": score}
        if op == "ADD" and not exists:
            state[rid] = dict(fields)
            offs[rid] = seq
        elif op == "UPDATE" and exists:
            state[rid].update({k: v for k, v in fields.items() if v is not None})
        elif op == "UPSERT":
            if exists:
                state[rid].update({k: v for k, v in fields.items() if v is not None})
            else:
                state[rid] = dict(fields)
                offs[rid] = seq
        elif op == "DELETE" and exists:
            del state[rid]
            offs.pop(rid, None)
    return state


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op(), min_size=1, max_size=12))
def test_materialize_matches_state_machine(spark, ops):
    log = spark.createDataFrame(
        [(i, op, rid, doc, score) for i, (op, rid, doc, score) in enumerate(ops)],
        "seq_id LONG, op STRING, id STRING, document STRING, score DOUBLE",
    )
    got = {r.id: {"document": r.document, "score": r.score} for r in materialize(None, log).collect()}
    assert got == py_fold(ops)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op(), min_size=1, max_size=8))
def test_materialize_with_base_matches_state_machine(spark, ops):
    base_rows = [("a", "base-doc", 0.5), ("b", None, 9.9)]
    base = spark.createDataFrame(base_rows, "id STRING, document STRING, score DOUBLE")
    log = spark.createDataFrame(
        [(i, op, rid, doc, score) for i, (op, rid, doc, score) in enumerate(ops)],
        "seq_id LONG, op STRING, id STRING, document STRING, score DOUBLE",
    )
    expect = py_fold(ops, base={r[0]: {"document": r[1], "score": r[2]} for r in base_rows})
    got = {r.id: {"document": r.document, "score": r.score} for r in materialize(base, log).collect()}
    assert got == expect


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op(), min_size=1, max_size=12))
def test_vectorized_fold_equals_python_fold(spark, ops):
    """The one fold equals the state-machine model on every column
    INCLUDING offset_id, with and without a base side (whose rows carry a
    set and a null offset_id)."""
    base_rows = [("a", "base-doc", 0.5, 3), ("b", None, 9.9, None)]
    base = spark.createDataFrame(base_rows, "id STRING, document STRING, score DOUBLE, offset_id LONG")
    log = spark.createDataFrame(
        [(10 + i, op, rid, doc, score) for i, (op, rid, doc, score) in enumerate(ops)],
        "seq_id LONG, op STRING, id STRING, document STRING, score DOUBLE",
    )
    for b in (None, base):
        offsets = {} if b is None else {r[0]: r[3] for r in base_rows}
        model = py_fold(
            ops, base=None if b is None else {r[0]: {"document": r[1], "score": r[2]} for r in base_rows},
            offsets=offsets, start=10,
        )
        expect = sorted((rid, offsets[rid], f["document"], f["score"]) for rid, f in model.items())
        got = sorted(tuple(r) for r in materialize(b, log).select("id", "offset_id", "document", "score").collect())
        assert got == expect, (b is not None, ops)


# ---------------------------------------------------------------------------
# DELETE_WHERE folding + offset_id assignment (reference: the predicate is
# stored in the log and applied at materialization; offset id = seq of the
# record's current insertion, limit.rs:23-36)
# ---------------------------------------------------------------------------

_WHERE_OPS = [
    ({"score": {"$gte": 2.0}}, None),
    ({"score": {"$ne": 1.0}}, None),  # missing score MATCHES
    ({"score": {"$lt": 3.0}}, None),
    (None, {"$contains": "d2"}),      # empty/missing doc -> False
]


def _item():
    return st.one_of(
        st.tuples(st.just("REC"), _op()),
        st.tuples(st.just("WHERE"), st.sampled_from(_WHERE_OPS)),
    )


def _py_where_matches(meta, w):
    [(key, operand)] = w.items()
    [(op, val)] = operand.items()
    v = meta.get(key)
    if op == "$gte":
        return v is not None and v >= val
    if op == "$lt":
        return v is not None and v < val
    if op == "$ne":
        return v is None or v != val
    raise AssertionError(op)


def py_fold_with_where(items, base=None, start=0):
    """``base`` maps pre-existing ids to ``(fields, offset_id)``; ``items``
    carry seqs ``start, start + 1, ...``."""
    state: dict = {rid: dict(f) for rid, (f, _off) in (base or {}).items()}
    offs: dict = {rid: off for rid, (_f, off) in (base or {}).items()}
    for seq, (kind, payload) in enumerate(items, start):
        if kind == "REC":
            op, rid, doc, score = payload
            exists = rid in state
            fields = {"document": doc, "score": score}
            if op == "ADD" and not exists:
                state[rid] = dict(fields)
                offs[rid] = seq
            elif op == "UPDATE" and exists:
                state[rid].update({k: v for k, v in fields.items() if v is not None})
            elif op == "UPSERT":
                if exists:
                    state[rid].update({k: v for k, v in fields.items() if v is not None})
                else:
                    state[rid] = dict(fields)
                    offs[rid] = seq
            elif op == "DELETE" and exists:
                del state[rid]
                del offs[rid]
        else:
            w, wd = payload
            for rid in list(state):
                meta = {k: v for k, v in state[rid].items() if v is not None}
                ok = w is None or _py_where_matches(meta, w)
                if ok and wd is not None:
                    ok = wd["$contains"] in (meta.get("document") or "")
                if ok:
                    del state[rid]
                    del offs[rid]
    return state, offs


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=st.lists(_item(), min_size=1, max_size=12))
def test_materialize_where_ops_and_offsets_match_state_machine(spark, items):
    rec_rows = [
        (seq, *payload[:2], payload[2], payload[3])
        for seq, (kind, payload) in enumerate(items)
        if kind == "REC"
    ]
    where_ops = [
        (seq, None, payload[0], payload[1])
        for seq, (kind, payload) in enumerate(items)
        if kind == "WHERE"
    ]
    if not rec_rows:
        return  # materialize needs at least one log row
    log = spark.createDataFrame(
        rec_rows, "seq_id LONG, op STRING, id STRING, document STRING, score DOUBLE"
    )
    expect_state, expect_offs = py_fold_with_where(items)
    rows = materialize(None, log, where_ops=where_ops).collect()
    got_state = {r.id: {"document": r.document, "score": r.score} for r in rows}
    got_offs = {r.id: r.offset_id for r in rows}
    assert got_state == expect_state, items
    assert got_offs == expect_offs, items


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=st.lists(_item(), min_size=1, max_size=10))
def test_materialize_where_ops_with_base_match_state_machine(spark, items):
    """Segments chain onto pre-existing state: base rows (one with a set,
    one with a null offset_id) are matched by predicate deletes and carry
    their offsets through every segment."""
    base_rows = [("a", "d2", 2.0, 4), ("b", None, 1.0, None), ("c", "d1", None, 7)]
    base = spark.createDataFrame(base_rows, "id STRING, document STRING, score DOUBLE, offset_id LONG")
    rec_rows = [
        (10 + seq, *payload) for seq, (kind, payload) in enumerate(items) if kind == "REC"
    ]
    where_ops = [
        (10 + seq, None, *payload) for seq, (kind, payload) in enumerate(items) if kind == "WHERE"
    ]
    log = spark.createDataFrame(rec_rows, "seq_id LONG, op STRING, id STRING, document STRING, score DOUBLE")
    expect_state, expect_offs = py_fold_with_where(
        items, base={r[0]: ({"document": r[1], "score": r[2]}, r[3]) for r in base_rows}, start=10
    )
    rows = materialize(base, log, where_ops=where_ops).collect()
    assert {r.id: {"document": r.document, "score": r.score} for r in rows} == expect_state, items
    assert {r.id: r.offset_id for r in rows} == expect_offs, items
