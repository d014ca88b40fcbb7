"""Replicates the driver's correctness gate locally: every registry query's
Spark result must match its DuckDB oracle (row count + schema-compatible
values, order-insensitive) on the sf-small testdata.
"""

from __future__ import annotations

import math

import pytest

from chroma_spark.registry import QUERIES

from tests.conftest import SF_SMALL


def _normalize(rows, colnames):
    """Sort columns by name, then rows; stringify values canonically."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return str(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


_ORACLE_CASES = [(n, q) for n, q in QUERIES.items() if q.oracle is not None]


@pytest.mark.parametrize("name,q", _ORACLE_CASES, ids=[n for n, _ in _ORACLE_CASES])
def test_matches_oracle(spark, duck, name, q):
    actual_df = q.fn(spark, SF_SMALL)
    actual_cols = actual_df.columns
    actual = _normalize([tuple(r) for r in actual_df.collect()], actual_cols)

    res = duck.execute(q.oracle)
    expected_cols = [d[0] for d in res.description]
    expected = _normalize(res.fetchall(), expected_cols)

    assert sorted(actual_cols) == sorted(expected_cols), (
        f"{name}: column mismatch spark={sorted(actual_cols)} duck={sorted(expected_cols)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count spark={len(actual)} duck={len(expected)}"
    )
    mismatches = [(a, e) for a, e in zip(actual, expected) if a != e]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


def test_rows_only_queries_run(spark):
    for name, q in QUERIES.items():
        if q.oracle is None:
            df = q.fn(spark, SF_SMALL)
            assert df.count() >= 0, name


def test_torn_store_marker_rebuilds(spark, duck):
    """A store whose marker was cut mid-write (a killed build, two
    processes racing) is stale, not an error: the next call rebuilds it
    from scratch and still matches the oracle; the new marker is whole."""
    import json
    import os

    from chroma_spark import registry

    q = QUERIES["doc_contains_indexed"]
    q.fn(spark, SF_SMALL).count()
    root = registry._index_dir("docs", SF_SMALL)
    with open(os.path.join(root, "_index_meta.json"), "w") as f:
        f.write('{"src_sig": [17')
    registry._STORES.pop(root)  # as a fresh process would see it
    n_built = len(registry.BUILDS)
    got = sorted(r["id"] for r in q.fn(spark, SF_SMALL).collect())
    assert got == sorted(r[0] for r in duck.execute(q.oracle).fetchall())
    assert [b for b, _ in registry.BUILDS[n_built:]] == [os.path.basename(root)]
    with open(os.path.join(root, "_index_meta.json")) as f:
        assert json.load(f)["src_sig"] is not None


def test_moved_store_rebuilds(spark, duck):
    """A store whose marker was written under another root (a copied or
    moved ``.index_cache``: its catalog's absolute paths name files it does
    not own) is stale: the next call rebuilds it in place and still matches
    the oracle."""
    import json
    import os

    from chroma_spark import registry

    q = QUERIES["doc_contains_indexed"]
    q.fn(spark, SF_SMALL).count()
    root = registry._index_dir("docs", SF_SMALL)
    marker = os.path.join(root, "_index_meta.json")
    with open(marker) as f:
        info = json.load(f)
    with open(marker, "w") as f:
        json.dump({**info, "root": os.path.join(os.path.dirname(root), "elsewhere")}, f)
    registry._STORES.pop(root)  # as a fresh process would see it
    n_built = len(registry.BUILDS)
    got = sorted(r["id"] for r in q.fn(spark, SF_SMALL).collect())
    assert got == sorted(r[0] for r in duck.execute(q.oracle).fetchall())
    assert [b for b, _ in registry.BUILDS[n_built:]] == [os.path.basename(root)]
    with open(marker) as f:
        assert json.load(f)["root"] == root


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# ---------------------------------------------------------------------------
# Persisted sparse posting index: term-bucket partition pruning
# ---------------------------------------------------------------------------


def test_sparse_index_pruned_search_matches_full_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from chroma_spark.operators.sparse import (
        build_sparse,
        explode_postings,
        read_sparse_index,
        sparse_dot_topk,
        sparse_index_topk,
        write_sparse_index,
    )

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select(F.col("doc_id").alias("id"), F.col("text").alias("document"))
    )
    records = build_sparse(docs, dim=4096)
    queries = records.filter(F.col("id") < 3).select(F.col("id").alias("query_id"), "sparse")

    path = str(tmp_path / "sparse_idx")
    write_sparse_index(explode_postings(records), path, n_buckets=64)
    idx = read_sparse_index(spark, path)

    pruned = sparse_index_topk(idx, queries, k=10, n_buckets=64)
    full = sparse_dot_topk(records, queries, k=10)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))

    # the bucket filter reaches the scan as a partition filter
    qb = sorted(
        {int(r["sparse"]["indices"][i]) % 64 for r in queries.collect() for i in range(len(r["sparse"]["indices"]))}
    )
    plan = idx.filter(F.col("bucket").isin(qb))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
