"""IVF ANN: recall >= 0.95 vs exact brute force (the reference's own
invariant, chromadb/test/property/invariants.py:281), and full-probe
equivalence (nprobe == n_lists must equal exact search).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chroma_spark.ann.ivf import build_ivf, ivf_search, recall_at_k
from chroma_spark.operators.knn import exact_knn
from tests.conftest import SF_LARGE, SF_MEDIUM, SF_SMALL


def _records(spark):
    return (
        spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), "embedding")
    )


def _queries(spark, n=20):
    return (
        spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
        .filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def test_ivf_recall_l2(spark):
    records, queries = _records(spark), _queries(spark)
    centroids, postings = build_ivf(records, n_lists=16)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = ivf_search(centroids, postings, queries, k=10, nprobe=8, space="l2")
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"recall@10 = {r}"


def test_ivf_full_probe_equals_exact_cosine(spark):
    records, queries = _records(spark), _queries(spark, n=5)
    centroids, postings = build_ivf(records, n_lists=8)
    exact = exact_knn(records, queries, k=10, space="cosine")
    approx = ivf_search(centroids, postings, queries, k=10, nprobe=8, space="cosine")
    e = {(r["query_id"], r["id"]) for r in exact.collect()}
    a = {(r["query_id"], r["id"]) for r in approx.collect()}
    assert e == a


# ---------------------------------------------------------------------------
# Quantized (RaBitQ-style sign-bit codes + Hamming prefilter + re-rank)
# ---------------------------------------------------------------------------


def test_quantized_search_recall(spark):
    from chroma_spark.ann.quantize import build_codes, quantized_search

    records, queries = _records(spark), _queries(spark)
    coded, means = build_codes(records)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = quantized_search(coded, queries, means, k=10, rerank_factor=24, space="l2")
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"quantized recall@10 = {r}"


def test_code_packing_and_hamming(spark):
    from chroma_spark.ann.quantize import build_codes, hamming

    df = spark.createDataFrame(
        [("a", [1.0] * 70), ("b", [-1.0] * 70), ("c", [1.0] * 69 + [-1.0])],
        "id STRING, embedding ARRAY<FLOAT>",
    )
    coded, means = build_codes(df, means=[0.0] * 70)
    rows = {r.id: r.code for r in coded.collect()}
    assert len(rows["a"]) == 2  # 70 dims -> 2 packed words
    assert rows["a"][0] == -1 and rows["a"][1] == 63  # 64 + 6 set bits
    assert rows["b"] == [0, 0]
    h = (
        coded.alias("x")
        .crossJoin(coded.alias("y"))
        .select(
            F.col("x.id").alias("ia"),
            F.col("y.id").alias("ib"),
            hamming(F.col("x.code"), F.col("y.code")).alias("h"),
        )
        .collect()
    )
    hm = {(r.ia, r.ib): r.h for r in h}
    assert hm[("a", "b")] == 70 and hm[("a", "c")] == 1 and hm[("a", "a")] == 0


def test_ivf_quantized_pipeline_recall(spark):
    from chroma_spark.ann.quantize import build_codes, ivf_quantized_search

    records, queries = _records(spark), _queries(spark)
    centroids, postings = build_ivf(records, n_lists=16)
    coded_postings, means = build_codes(postings)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = ivf_quantized_search(
        centroids, coded_postings, queries, means, k=10, nprobe=8, rerank_factor=24
    )
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"ivf+quantized recall@10 = {r}"


@pytest.mark.parametrize("sf", [SF_SMALL, SF_LARGE], ids=["sf_small", "sf_large"])
@pytest.mark.parametrize("name", ["ann_ivf_topk", "ann_quantized_topk"])
def test_registered_ann_recall(spark, name, sf):
    """The registered trained-ANN queries have no SQL oracle; this is their
    gate: recall@10 >= 0.95 vs exact l2 over their own queries (ids < 5),
    so a wrong id decode, space or index descriptor in the registry wiring
    fails here. Past a few thousand vectors the quantized tier's re-rank
    budget is what holds it (sf_large)."""
    from chroma_spark.registry import QUERIES

    if not os.path.isdir(sf):
        pytest.skip(f"no testdata at {sf}")
    records = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = records.filter(F.col("id") < 5).select(F.col("id").alias("query_id"), "embedding")
    exact = exact_knn(records, queries, k=10, space="l2")
    r = recall_at_k(QUERIES[name].fn(spark, sf), exact)
    assert r >= 0.95, f"{name} recall@10 = {r} at {sf}"


# ---------------------------------------------------------------------------
# SQ4 (4-bit scalar quantization + ADC prefilter + re-rank) — second tier
# ---------------------------------------------------------------------------


def test_sq4_recall_at_small_rerank(spark):
    """ADC on reconstructed 4-bit codes is tight enough that recall >= 0.95
    holds at rerank_factor 4 — vs 24 for sign-bit Hamming (VERDICT r2 #6
    asked for <= 8)."""
    from chroma_spark.ann.quantize import build_codes4, sq4_search

    records, queries = _records(spark), _queries(spark)
    coded, ranges = build_codes4(records)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = sq4_search(coded, queries, ranges, k=10, rerank_factor=4, space="l2")
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"sq4 recall@10 at rerank_factor=4 = {r}"


def test_sq4_pack_unpack_roundtrip(spark):
    """Every reconstructed value sits within step/2 of the original (interior
    points), and packing puts 16 dims per BIGINT word."""
    from chroma_spark.ann.quantize import _unpack4_expr, build_codes4

    df = spark.createDataFrame(
        [("a", [float(i) / 17 for i in range(17)]), ("b", [1.0 - float(i) / 17 for i in range(17)])],
        "id STRING, embedding ARRAY<FLOAT>",
    )
    coded, (lo, step) = build_codes4(df)
    assert len(lo) == 17
    rows = coded.select(
        "id", "embedding", F.col("code4"), _unpack4_expr("code4", lo, step).alias("recon")
    ).collect()
    for r in rows:
        assert len(r.code4) == 2  # 17 dims -> 2 packed words
        for orig, rec, st in zip(r.embedding, r.recon, step):
            assert abs(orig - rec) <= st / 2 + 1e-6, (r.id, orig, rec, st)


def test_ivf_sq4_pipeline_recall(spark):
    from chroma_spark.ann.quantize import build_codes4, ivf_sq4_search

    records, queries = _records(spark), _queries(spark)
    centroids, postings = build_ivf(records, n_lists=16)
    coded_postings, ranges = build_codes4(postings)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = ivf_sq4_search(
        centroids, coded_postings, queries, ranges, k=10, nprobe=8, rerank_factor=4
    )
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"ivf+sq4 recall@10 = {r}"


def test_sq4_stays_jvm_side(spark):
    from chroma_spark.ann.quantize import build_codes4, sq4_search

    records, queries = _records(spark), _queries(spark, n=3)
    coded, ranges = build_codes4(records)
    plan = sq4_search(coded, queries, ranges, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Persisted index layout: partition pruning on probed lists
# ---------------------------------------------------------------------------


def test_persisted_ivf_partition_pruning(spark, tmp_path):
    from chroma_spark.ann.ivf import probed_postings, read_ivf, write_ivf

    records = _records(spark)
    centroids, postings = build_ivf(records, n_lists=8)
    path = str(tmp_path / "ivf")
    write_ivf(centroids, postings, path)
    c2, p2 = read_ivf(spark, path)
    assert c2.count() == 8 and p2.count() == postings.count()

    pruned = probed_postings(p2, [0, 3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # the probe filter reaches the scan: only the 2 probed lists are read
    assert set(r.centroid_id for r in pruned.select("centroid_id").distinct().collect()) <= {0, 3}

    # search over the persisted index is identical to the in-memory index
    queries = _queries(spark, n=5)
    mem = ivf_search(centroids, postings, queries, k=10, nprobe=4)
    disk = ivf_search(c2, p2, queries, k=10, nprobe=4)
    assert sorted(map(tuple, mem.collect())) == sorted(map(tuple, disk.collect()))


def test_assign_arrow_matches_expr(spark):
    """The GEMM (Arrow) assignment path must agree with the Catalyst
    expression path on real data — same (id, centroid_id) multiset. Ties
    could differ in the last ulp in principle; on continuous embeddings they
    must not occur."""
    from chroma_spark.ann.ivf import assign_to_centroids

    records = _records(spark)
    centroids, _ = build_ivf(records, n_lists=16)
    a = assign_to_centroids(records, centroids, replicas=2, method="expr")
    b = assign_to_centroids(records, centroids, replicas=2, method="arrow")
    rows_a = sorted((r["id"], r["centroid_id"]) for r in a.select("id", "centroid_id").collect())
    rows_b = sorted((r["id"], r["centroid_id"]) for r in b.select("id", "centroid_id").collect())
    assert rows_a == rows_b


# ---------------------------------------------------------------------------
# PQ (product quantization ADC prefilter + re-rank, ann/pq.py)
# ---------------------------------------------------------------------------


def test_pq_recall(spark):
    from chroma_spark.ann.pq import encode_pq, pq_search, train_pq

    records, queries = _records(spark), _queries(spark)
    books = train_pq(records, m=8, k_codes=256)
    coded = encode_pq(records, books)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = pq_search(coded, queries, books, k=10, rerank_factor=8, space="l2")
    r = recall_at_k(approx, exact)
    assert r >= 0.95, f"recall@10 = {r}"


def test_ivf_pq_recall(spark):
    from chroma_spark.ann.pq import encode_pq, ivf_pq_search, train_pq

    records, queries = _records(spark), _queries(spark)
    centroids, postings = build_ivf(records, n_lists=16)
    books = train_pq(records, m=8, k_codes=256)
    coded = encode_pq(postings, books)
    exact = exact_knn(records, queries, k=10, space="l2")
    approx = ivf_pq_search(centroids, coded, queries, books, k=10, nprobe=8, rerank_factor=8)
    r = recall_at_k(approx, exact)
    assert r >= 0.9, f"recall@10 = {r}"


def test_pq_adc_equals_reconstruction_distance(spark):
    """The LUT aggregate must equal l2(query, decode(code)) — ADC's
    defining identity — for every (query, candidate) pair checked."""
    import numpy as np

    from chroma_spark.ann.pq import encode_pq, pq_adc_expr, train_pq, _with_lut

    records = _records(spark).limit(50)
    queries = _queries(spark, n=3)
    books = train_pq(records, m=8, k_codes=4)
    coded = encode_pq(records, books)
    q = _with_lut(
        queries.select(F.col("query_id"), F.col("embedding").alias("qvec")), books, "qvec"
    )
    rows = (
        coded.crossJoin(F.broadcast(q))
        .select(
            "id", "query_id", "pq_code", "qvec",
            pq_adc_expr("pq_code", "__lut", 8, 4).alias("adc"),
        )
        .collect()
    )
    b = [np.array(bb) for bb in books]
    for r in rows:
        recon = np.concatenate([b[mi][r["pq_code"][mi]] for mi in range(8)])
        expect = float(np.sum((np.array(r["qvec"], dtype=np.float64) - recon) ** 2))
        assert abs(r["adc"] - expect) < 1e-9, (r["id"], r["query_id"])
