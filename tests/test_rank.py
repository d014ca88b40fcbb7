"""RankDomain merge semantics (rank.rs:34-120) and RRF desugar unit tests."""

from __future__ import annotations

import pytest

from chroma_spark.operators.rank import RankDomain, RankError, _merge, rrf


def _dom(spark, pairs, default=None):
    if pairs is None:
        return RankDomain(None, default)
    df = spark.createDataFrame(pairs, "id BIGINT, score DOUBLE")
    return RankDomain(df, default)


def _collect(domain):
    return {r["id"]: r["score"] for r in domain.support.collect()}


def test_merge_both_defaults_union(spark):
    l = _dom(spark, [(1, 10.0), (2, 20.0)], default=0.0)
    r = _dom(spark, [(2, 1.0), (3, 3.0)], default=100.0)
    out = _merge(l, r, lambda a, b: a + b)
    assert out.default == 100.0
    assert _collect(out) == {1: 110.0, 2: 21.0, 3: 3.0}


def test_merge_one_default_bounds_support(spark):
    l = _dom(spark, [(1, 10.0), (2, 20.0)], default=5.0)
    r = _dom(spark, [(2, 1.0), (3, 3.0)], default=None)
    out = _merge(l, r, lambda a, b: a + b)
    assert out.default is None
    assert _collect(out) == {2: 21.0, 3: 8.0}


def test_merge_no_defaults_intersection(spark):
    l = _dom(spark, [(1, 10.0), (2, 20.0)], default=None)
    r = _dom(spark, [(2, 1.0), (3, 3.0)], default=None)
    out = _merge(l, r, lambda a, b: a + b)
    assert out.default is None
    assert _collect(out) == {2: 21.0}


def test_merge_flat_sides(spark):
    flat = _dom(spark, None, default=2.0)
    sup = _dom(spark, [(1, 3.0)], default=None)
    out = _merge(flat, sup, lambda a, b: a * b)
    assert out.default is None
    assert _collect(out) == {1: 6.0}
    # empty domain (no support, no default) wipes everything under no-default merge
    empty = _dom(spark, None, default=None)
    gone = _merge(empty, sup, lambda a, b: a + b)
    assert gone.support is None and gone.default is None


def test_rrf_desugar_shape():
    expr = rrf([{"query": [0.1], "limit": 5}], k=60)
    assert "$sub" in expr
    inner = expr["$sub"]["right"]
    assert "$div" in inner  # single term is not wrapped in $sum
    knn = inner["$div"]["right"]["$sum"][1]["$knn"]
    assert knn["return_rank"] is True


def test_rrf_validation():
    with pytest.raises(RankError):
        rrf([], k=60)
    with pytest.raises(RankError):
        rrf([{"query": [0.1]}], k=0)
    with pytest.raises(RankError):
        rrf([{"query": [0.1]}], weights=[1.0, 2.0])
    with pytest.raises(RankError):
        rrf([{"query": [0.1]}], weights=[-1.0])
    with pytest.raises(RankError):
        rrf([{"query": [0.1]}], weights=[0.0], normalize=True)


def test_sparse_knn_term(spark):
    """Sparse $knn: measure = 1 - dot (sparse_index_knn.rs:85-88), support
    limited to records sharing >= 1 term with the query, limit respected."""
    from chroma_spark.operators.rank import RankEvaluator, finalize_scores

    records = spark.createDataFrame(
        [
            (1, ([0, 2], [1.0, 2.0])),
            (2, ([2, 5], [3.0, 1.0])),
            (3, ([7], [4.0])),          # shares no term with the query
            (4, ([0], [0.5])),
        ],
        "id BIGINT, sparse STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    expr = {"$knn": {"query": {"indices": [0, 2], "values": [1.0, 1.0]}, "key": "sparse",
                     "limit": 3, "idf": False}}
    out = {
        r["id"]: r["score"]
        for r in finalize_scores(RankEvaluator(records).evaluate(expr)).collect()
    }
    # dots: id1 = 1+2 = 3, id2 = 3, id4 = 0.5; id3 excluded (no shared term)
    assert out == {1: 1.0 - 3.0, 2: 1.0 - 3.0, 4: 1.0 - 0.5}


def test_sparse_knn_term_idf_scaling(spark):
    """Default sparse $knn applies the Idf operator to the query first
    (sparse_knn.rs:243; idf(t) = ln((n - n_t + 0.5)/(n_t + 0.5) + 1),
    idf.rs:24-31) — rarer terms dominate the dot product."""
    import math

    from chroma_spark.operators.rank import RankEvaluator, finalize_scores

    records = spark.createDataFrame(
        [
            (1, ([0, 2], [1.0, 2.0])),
            (2, ([2, 5], [3.0, 1.0])),
            (3, ([7], [4.0])),
            (4, ([0], [0.5])),
        ],
        "id BIGINT, sparse STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    expr = {"$knn": {"query": {"indices": [0, 2], "values": [1.0, 1.0]}, "key": "sparse", "limit": 4}}
    out = {
        r["id"]: r["score"]
        for r in finalize_scores(RankEvaluator(records).evaluate(expr)).collect()
    }
    n = 4.0  # docs with postings
    idf0 = math.log((n - 2 + 0.5) / (2 + 0.5) + 1)  # idx 0 in docs 1, 4
    idf2 = math.log((n - 2 + 0.5) / (2 + 0.5) + 1)  # idx 2 in docs 1, 2
    import pytest as _pytest

    assert out[1] == _pytest.approx(1.0 - (1.0 * idf0 + 2.0 * idf2), abs=1e-6)
    assert out[2] == _pytest.approx(1.0 - 3.0 * idf2, abs=1e-6)
    assert out[4] == _pytest.approx(1.0 - 0.5 * idf0, abs=1e-6)
    assert 3 not in out


def test_sparse_knn_indices_must_ascend(spark):
    """The per-record sparse scorer merges two sorted index runs: a query
    whose indices are not strictly ascending (or not one value each) is a
    RankError. A record repeating an index adds one product per repeat, as
    the postings join does; IDF counts it as one document containing the
    term."""
    import math

    from chroma_spark.operators.rank import RankEvaluator, finalize_scores
    from chroma_spark.operators.sparse import sparse_dot_topk

    schema = "id BIGINT, sparse STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>"
    records = spark.createDataFrame([(1, ([0, 2], [1.0, 2.0]))], schema)
    for q in ({"indices": [2, 0], "values": [1.0, 1.0]},
              {"indices": [0, 0], "values": [1.0, 1.0]},
              {"indices": [0, 2], "values": [1.0]}):
        with pytest.raises(RankError, match="ascending"):
            RankEvaluator(records).evaluate({"$knn": {"query": q, "key": "sparse", "limit": 2}})
    dup = spark.createDataFrame(
        [(1, ([0, 0, 3], [1.0, 2.0, 0.5])), (2, ([0, 3], [4.0, 1.0])), (3, ([5], [1.0]))], schema
    )
    query = {"indices": [0, 3], "values": [1.0, 0.5]}

    def scores(idf):
        expr = {"$knn": {"query": query, "key": "sparse", "limit": 3, "idf": idf}}
        return {r["id"]: r["score"] for r in finalize_scores(RankEvaluator(dup).evaluate(expr)).collect()}

    qdf = spark.createDataFrame([(0, (query["indices"], query["values"]))],
                                "query_id INT, " + schema.split(", ", 1)[1])
    joined = {r["id"]: round(1.0 - r["score"], 6) for r in sparse_dot_topk(dup, qdf, 3).collect()}
    assert scores(False) == joined == {1: 1.0 - 3.25, 2: 1.0 - 4.5}
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)  # n = 3 records, df = 2 for both terms
    got = scores(True)
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(1.0 - 3.25 * idf, abs=1e-6)
    assert got[2] == pytest.approx(1.0 - 4.5 * idf, abs=1e-6)


def test_dense_knn_alternate_vector_column(spark):
    """Dense $knn with key=<other ARRAY<FLOAT> column> (operator.py's key
    param, default #embedding) — multi-vector records rank per column."""
    from chroma_spark.operators.rank import RankEvaluator, finalize_scores

    records = spark.createDataFrame(
        [
            (1, [0.0, 0.0], [5.0, 5.0]),
            (2, [3.0, 4.0], [0.0, 0.0]),
        ],
        "id BIGINT, embedding ARRAY<FLOAT>, image_emb ARRAY<FLOAT>",
    )
    expr = {
        "$sum": [
            {"$knn": {"query": [0.0, 0.0], "limit": 2, "space": "l2", "default": 0.0}},
            {"$knn": {"query": [0.0, 0.0], "key": "image_emb", "limit": 2,
                      "space": "l2", "default": 0.0}},
        ]
    }
    out = {
        r["id"]: r["score"]
        for r in finalize_scores(RankEvaluator(records).evaluate(expr)).collect()
    }
    # id1: text 0 + image 50; id2: text 25 + image 0 (l2 = squared distance)
    assert out == {1: 50.0, 2: 25.0}


def test_sparse_dense_mixed_batch(spark):
    """Dense and sparse $knn terms coexist in one expression; sparse
    return_rank yields 0-based positions ordered by measure asc, id asc."""
    from chroma_spark.operators.rank import RankEvaluator, finalize_scores

    records = spark.createDataFrame(
        [
            (1, [0.0, 0.0], ([0], [5.0])),
            (2, [3.0, 4.0], ([0], [1.0])),
            (3, [1.0, 0.0], ([9], [1.0])),
        ],
        "id BIGINT, embedding ARRAY<FLOAT>, sparse STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    expr = {
        "$sum": [
            {"$knn": {"query": [0.0, 0.0], "limit": 3, "space": "l2", "default": 100.0}},
            {
                "$knn": {
                    "query": {"indices": [0], "values": [1.0]},
                    "key": "sparse",
                    "limit": 2,
                    "return_rank": True,
                    "default": 10.0,
                }
            },
        ]
    }
    out = {
        r["id"]: r["score"]
        for r in finalize_scores(RankEvaluator(records).evaluate(expr)).collect()
    }
    # dense l2^2? distance(l2) is squared-l2 per reference: id1=0, id2=25, id3=1
    # sparse ranks: id1 dot=5 -> measure -4 -> rank 0; id2 dot=1 -> rank 1; id3 default 10
    assert out[1] == pytest.approx(0.0 + 0.0)
    assert out[2] == pytest.approx(25.0 + 1.0)
    assert out[3] == pytest.approx(1.0 + 10.0)
