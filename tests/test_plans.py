"""Physical-plan regression tests: the properties that make these operators
hold up at 100 TB (predicate pushdown, column pruning, broadcast joins,
partition pruning) are asserted so a refactor can't silently lose them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chroma_spark.registry import QUERIES, collection_df, load

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    # a plain pushable predicate on a scan column must appear in PushedFilters
    df = load(spark, SF_SMALL, "documents").filter(F.col("n_chars") > 500).select("doc_id")
    plan = _formatted(df)
    assert "PushedFilters" in plan and "GreaterThan(n_chars,500)" in plan


def test_column_pruning_narrow_read_schema(spark):
    # 2-column projection over a 5-column table must not read all columns
    df = load(spark, SF_SMALL, "documents").select("doc_id", "lang")
    plan = _formatted(df)
    rs = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert rs and "text" not in rs[0], f"document text read for a 2-col projection: {rs}"


def test_collection_view_broadcasts_embedding_side(spark):
    plan = _plan(collection_df(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, "documents-embeddings join must broadcast, not shuffle"
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(QUERIES["top_customers"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim tables must broadcast in the star join"


def test_where_query_stays_in_codegen(spark):
    # compiled Where predicates are built-in expressions — whole-stage
    # codegen must cover the filter (no Python UDF in the hot path).
    # Execute first: AQE only shows codegen spans in the finalized plan.
    df = QUERIES["where_nested_bool"].fn(spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "*(" in plan or "* Project" in plan  # codegen span markers
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_knn_distance_is_jvm_side(spark):
    plan = _plan(QUERIES["knn_cosine_exact"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "distance math must be built-in column expressions, not Python UDFs"
    )


def test_multimodal_is_arrow_batched_not_row_python(spark):
    plan = _plan(QUERIES["multimodal_decode_meta"].fn(spark, SF_SMALL))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan  # Arrow path
    assert "BatchEvalPython" not in plan  # never row-at-a-time pickling


def test_get_page_offset_limit_no_full_sort_shuffle(spark):
    # pagination = global sort + offset/limit; ensure a TakeOrdered-style or
    # rangepartitioned single-pass plan, not repeated shuffles
    plan = _plan(QUERIES["get_page"].fn(spark, SF_SMALL))
    assert plan.count("Exchange") <= 2, f"pagination shuffles too much:\n{plan[:500]}"


def test_ungrouped_topk_is_take_ordered(spark):
    # ungrouped top-k must compile to TakeOrderedAndProject (per-partition
    # heap + driver merge), not an all-rows-to-one-partition window
    from chroma_spark.operators.topk import topk_per_group

    df = load(spark, SF_SMALL, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    out = topk_per_group(df, [], [F.col("score").desc(), F.col("doc_id").asc()], 5)
    assert "TakeOrderedAndProject" in _plan(out)


def test_sparse_rank_broadcasts_query_terms(spark):
    # the sparse $knn postings join must broadcast the (tiny) query-term
    # side; the record/postings side must never shuffle for the join
    plan = _plan(QUERIES["rank_hybrid_sparse"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_bm25_index_matches_inline(spark):
    # the persisted term-level index must score identically to the inline
    # three-aggregate form
    from pyspark.sql import functions as FF

    from chroma_spark.operators.sparse import bm25_index_topk, bm25_topk, write_bm25_index

    docs = load(spark, SF_SMALL, "documents").select(
        FF.col("doc_id").alias("id"), FF.col("text").alias("document")
    )
    inline = {(r.id, r.score) for r in bm25_topk(docs, ["spark", "table", "merge"], k=15).collect()}
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        stats = write_bm25_index(docs, d + "/tf", n_buckets=16)
        idx = spark.read.parquet(d + "/tf")
        indexed = {
            (r.id, r.score)
            for r in bm25_index_topk(
                idx, ["spark", "table", "merge"], k=15,
                n_docs=stats["n_docs"], avgdl=stats["avgdl"], n_buckets=16,
            ).collect()
        }
    assert indexed == inline and len(inline) == 15


def test_wal_fold_plain_tail_has_no_python_stage(spark, tmp_path):
    # an index_and_wal read folds its log tail with window/aggregate
    # expressions — no Python in the merge, with or without a pending
    # predicate delete (the fold cuts the log at its seq and drops the
    # matching rows with the read path's where compilers)
    from chroma_spark.api import Client, _ReadView

    def fold(col):
        # a view that is not resident: its records plan is the fold itself,
        # not an InMemoryTableScan of the persisted result
        return _ReadView(col._store, col._store.meta).records

    python_nodes = ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython", "ArrowEvalPython")
    client = Client(spark, str(tmp_path / "store"))
    col = client.create_collection("walplan", dimension=2, space="l2")
    col.add(ids=["a", "b"], embeddings=[[1.0, 0], [0, 1.0]], metadatas=[{"k": 1}, {"k": 2}])
    col.compact()
    col.add(ids=["c"], embeddings=[[1.0, 1.0]], metadatas=[{"k": 3}])
    col.update(ids=["a"], metadatas=[{"k": 9}])
    plan = _plan(fold(col))  # base ∪ plain tail
    assert not [n for n in python_nodes if n in plan], plan[:800]
    assert {r["id"]: r["k"] for r in col.get()} == {"a": 9, "b": 2, "c": 3}

    col.delete(where={"k": {"$gte": 9}})
    snap2 = fold(col)
    plan2 = _plan(snap2)
    assert not [n for n in python_nodes if n in plan2], plan2[:800]
    assert {r.id for r in snap2.select("id").collect()} == {"b", "c"}


def test_registered_sparse_queries_prune_index_buckets(spark):
    # the registered sparse queries must read the PERSISTED term-bucket
    # index with the query's buckets as partition filters — the scan cost
    # is proportional to the query vocabulary, not the corpus
    for name in ("sparse_dot_topk", "rank_hybrid_sparse", "bm25_topk"):
        plan = _formatted(QUERIES[name].fn(spark, SF_SMALL))
        assert "PartitionFilters" in plan and "bucket" in plan, name
        pf = [line for line in plan.splitlines() if "PartitionFilters" in line and "bucket" in line]
        assert any("bucket IN" in line or "bucket#" in line for line in pf), f"{name}: {pf}"


def test_pack_sequences_has_no_global_single_partition_window(spark):
    """The packing prefix sum must be the two-phase form: every Window in
    the plan is PARTITIONED (by the physical partition id) — an empty
    window partition spec would pull the whole corpus through one task."""
    from chroma_spark.operators.textstats import pack_sequences

    docs = load(spark, SF_SMALL, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").alias("document")
    )
    plan = _plan(pack_sequences(docs, budget=512))
    assert "Window" in plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "__pid" in line, f"global (unpartitioned) window in packing plan: {line}"


def test_token_entropy_is_shuffle_free(spark):
    """Entropy is per-row array math: no Exchange, no Python stage."""
    from chroma_spark.operators.textstats import token_entropy

    docs = load(spark, SF_SMALL, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").alias("document")
    )
    plan = _plan(token_entropy(docs))
    assert "Exchange" not in plan, "token_entropy must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_batch_sparse_side_prunes_buckets(spark):
    """The batch-join test collection serves its sparse side from the
    bucket index with partition filters on the query vocabulary."""
    from chroma_spark.registry import QUERIES

    plan = _formatted(QUERIES["hybrid_batch_rrf"].fn(spark, SF_SMALL))
    bucket_filters = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "bucket" in line
    ]
    assert bucket_filters, "sparse side must reach the scan as bucket partition filters"


def test_repeated_spans_skew_safe_aggregation(spark):
    """Span dedup must detect duplicates via partial-aggregated groupBy
    (skew-safe for boilerplate grams), never a window/sort over the gram
    partition, and the per-doc mask must partially aggregate too."""
    from chroma_spark.operators.spans import repeated_span_stats

    docs = load(spark, SF_SMALL, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").alias("document")
    )
    plan = _plan(repeated_span_stats(docs, span_tokens=5))
    assert "CartesianProduct" not in plan
    assert "partial_collect_list" in plan, "per-doc mask lost partial aggregation"
    assert "partial_min" in plan or "partial_count" in plan or "HashAggregate" in plan
    # duplicate detection is keyed on the gram hash
    assert "hashpartitioning(ghash" in plan


def test_cluster_balanced_gets_rank_limit_pushdown(spark):
    """The per-cluster cap must compile to WindowGroupLimit (rank-limit
    pushdown: a hot cluster pre-truncates to cap per partition before the
    exchange) with the config-sized centroid side broadcast."""
    from chroma_spark.registry import QUERIES

    plan = _plan(QUERIES["sample_cluster_balance"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, "per-cluster cap lost rank-limit pushdown"
    assert "BroadcastExchange" in plan, "centroid side must broadcast"
