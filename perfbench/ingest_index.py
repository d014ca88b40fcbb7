"""``ingest_index``: bulk write, compaction and index path, one caller.

Set-up starts the SparkSession, generates the inputs and adds
``WARM_ROWS`` records to a throwaway collection, which pays the
session's first-call cost of ``add_records`` (BM25 embedding, parquet
write, catalog). The measured pipeline then runs once on a fresh
collection with a BM25 sparse EF, the way a fresh session loads and
indexes a corpus: the codegen and first-call costs of every later step
are part of the step that pays them. Without the warm add, the bulk add
alone would carry a cold cost four times its own and the noise of it.

1. ``add_records`` of ``N`` pre-materialised records (write);
2. ``compact``, ``build_vector_index``, ``build_sparse_index`` (maint);
3. one incremental cycle: ``INCR_ADDS`` ``add_records`` of +2.5% each
   (write), then ``compact``, which appends to both indexes (maint);
4. one ``hybrid_query_batch`` of ``QUERIES`` queries (read);
5. the registry queries ``SUITE`` (suite), each ``.count()``-ed once over
   ``documents`` and ``embeddings`` tables written from the base records.

Checks, outside the timed calls: the fused top-10 of every query has
recall >= 0.95 against an exact fusion computed with numpy, the final
``count()`` equals the records written, and every registry query returns
its pinned row count.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen

N_PER_SECOND = 500  # base records per requested second
INCR_ADDS = 2  # with the bulk add, three write samples
WARM_ROWS = 64
INCR_SHARE = 0.025
N_LISTS = 32
QUERIES = 10
K = 10
PER_SIDE = 100
RRF_K = 60
MIN_RECALL = 0.95
EF_DIM = 1 << 20
# registry queries over documents + embeddings, with the row counts
# their top-k, page and limit sizes pin
SUITE = {
    "knn_cosine_exact": 50,
    "get_page": 23,
    "doc_freq_topk": 30,
}


def _collection(spark, root: str, name: str):
    from chroma_spark.api import Client

    return Client(spark, root).create_collection(
        name, dimension=gen.DIM, space="cosine",
        sparse_embedding_function="bm25_sparse",
        sparse_embedding_function_kwargs={"dim": EF_DIM},
    )


def pipeline(spark, tracer, root: str, paths: dict, q: dict, sparse: list[dict]):
    """The timed calls; returns ``(calls, fused rows, count)``."""
    shutil.rmtree(root, ignore_errors=True)
    col = _collection(spark, root, "ingest")
    calls = []

    def timed(op: str, cls: str, fn):
        with tracer.span(op, op=op) as sp:
            out = fn()
        calls.append({"op": op, "cls": cls, "ms": (sp["end"] - sp["start"]) * 1e3, "span": sp})
        return out

    timed("ingest", "write", lambda: col.add_records(spark.read.parquet(paths["base"])))
    timed("compact", "maint", col.compact)
    timed("index_build", "maint", lambda: col.build_vector_index(n_lists=N_LISTS))
    timed("index_build", "maint", lambda: col.build_sparse_index("sparse"))
    for p in paths["incr"]:
        timed("incr_add", "write", lambda p=p: col.add_records(spark.read.parquet(p)))
    timed("incr_compact", "maint", col.compact)
    dense = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(q["embedding"])],
        "query_id INT, embedding ARRAY<FLOAT>",
    )
    sp = spark.createDataFrame(
        list(enumerate(sparse)),
        "query_id INT, sparse STRUCT<indices: ARRAY<BIGINT>, values: ARRAY<DOUBLE>>",
    )
    fused = timed("hybrid_batch", "read", lambda: col.hybrid_query_batch(
        dense, sp, key="sparse", n_results=K, per_side_limit=PER_SIDE, idf=False,
    ).collect())
    return calls, fused, col.count()


def suite(spark, tracer, tables: str) -> tuple[list[dict], dict[str, int]]:
    """Each ``SUITE`` query run and counted once; returns the calls and
    the row counts."""
    from chroma_spark.registry import QUERIES

    calls, rows = [], {}
    for name in SUITE:
        with tracer.span(name, op=name) as sp:
            rows[name] = QUERIES[name].fn(spark, tables).count()
        calls.append({"op": name, "cls": "suite", "ms": (sp["end"] - sp["start"]) * 1e3, "span": sp})
    return calls, rows


def exact_fusion(recs: list[dict], q: dict, sparse: list[dict]) -> list[set]:
    """Exact RRF top-K per query: numpy cosine top-``PER_SIDE`` plus exact
    BM25 dot top-``PER_SIDE``, fused with the engine's rank arithmetic."""
    from chroma_spark.functions.embedding import _md5_bucket

    ids = np.concatenate([r["id"] for r in recs])
    emb = np.concatenate([r["embedding"] for r in recs]).astype(np.float64)
    toks = [t for r in recs for t in r["tokens"]]
    bucket = np.array([_md5_bucket(w, EF_DIM) for w in gen.WORDS], dtype=np.int64)
    k1, b, avg_len = 1.2, 0.75, 256.0
    postings: dict[int, list] = {}
    for d, t in enumerate(toks):
        u, tf = np.unique(bucket[t], return_counts=True)
        w = (tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avg_len))).astype(np.float32)
        for term, wt in zip(u.tolist(), w.tolist()):
            postings.setdefault(term, []).append((d, wt))
    order = np.argsort(ids)  # id-ascending tie break
    rank_of_id = np.empty(len(ids), np.int64)
    rank_of_id[order] = np.arange(len(ids))
    out = []
    for i, qv in enumerate(q["embedding"]):
        dist = 1.0 - emb @ qv.astype(np.float64)
        dense = np.lexsort((rank_of_id, dist))[:PER_SIDE]
        score = np.zeros(len(ids))
        for term, qw in zip(sparse[i]["indices"], sparse[i]["values"]):
            for d, wt in postings.get(term, ()):
                score[d] += qw * wt
        hit = np.flatnonzero(score > 0)
        sp = hit[np.lexsort((rank_of_id[hit], -score[hit]))][:PER_SIDE]
        fused: dict[int, float] = {}
        for side in (dense, sp):
            r = {d: j for j, d in enumerate(side.tolist())}
            for d in set(dense.tolist()) | set(sp.tolist()):
                fused[d] = fused.get(d, 0.0) - 1.0 / (RRF_K + r.get(d, PER_SIDE))
        top = sorted(fused, key=lambda d: (fused[d], rank_of_id[d]))[:K]
        out.append(set(ids[top].tolist()))
    return out


def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    from chroma_spark.functions.embedding import Bm25SparseEmbeddingFunction
    from chroma_spark.session import get_spark
    from tracing import Tracer, install_catalog_meter

    t_setup = time.perf_counter()
    spark = get_spark("perfbench-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        n = seconds * N_PER_SECOND
        n_inc = max(1, int(n * INCR_SHARE))
        recs = [gen.records(seed, n)] + [
            gen.records(seed, n_inc, stream=10 + c, prefix="i") for c in range(INCR_ADDS)
        ]
        paths = {
            "base": gen.cached_parquet(work, recs[0], seed, n, 1),
            "incr": [gen.cached_parquet(work, r, seed, n_inc, 10 + c) for c, r in enumerate(recs[1:])],
        }
        q = gen.queries(seed, QUERIES)
        ef = Bm25SparseEmbeddingFunction(dim=EF_DIM)
        sparse = ef(q["text"])
        root = os.path.join(work, f"store_{os.getpid()}")
        tables = gen.suite_tables(work, recs[0], seed, n)
        warm = gen.records(seed, WARM_ROWS, stream=90, prefix="w")
        warm_path = gen.cached_parquet(work, warm, seed, WARM_ROWS, 90)
        _collection(spark, root, "warm").add_records(spark.read.parquet(warm_path))
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer(spark, enabled=trace)
        uninstall = install_catalog_meter(tracer) if trace else None
        t_work = time.perf_counter()
        try:
            calls, fused, count = pipeline(spark, tracer, root, paths, q, sparse)
            suite_calls, rows = suite(spark, tracer, tables)
        finally:
            if uninstall:
                uninstall()
        work_s = time.perf_counter() - t_work
        shutil.rmtree(root, ignore_errors=True)
    finally:
        spark.stop()

    want = exact_fusion(recs, q, sparse)
    got: dict[int, set] = {}
    for r in fused:
        got.setdefault(r["query_id"], set()).add(r["id"])
    recall = float(np.mean([len(got.get(i, set()) & w) / K for i, w in enumerate(want)]))
    written = n + INCR_ADDS * n_inc
    checks = {
        f"fused recall@{K} {recall:.3f} < {MIN_RECALL}": recall >= MIN_RECALL,
        f"count {count} != {written} records written": count == written,
    }
    for name, want in SUITE.items():
        checks[f"{name}: {rows[name]} rows, want {want}"] = rows[name] == want
    return {
        "setup_s": setup_s, "work_s": work_s, "calls": calls + suite_calls,
        "attempted": len(calls) + len(suite_calls), "failed": 0, "checks": list(checks.values()),
        "failures": [msg for msg, ok in checks.items() if not ok], "spans": tracer.spans,
        "detail": {"n": n, "incr": n_inc, "queries": QUERIES, "recall_at_10": recall,
                   "count": count},
    }
