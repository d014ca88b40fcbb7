"""One full user journey through the public surface — the composed story a
reference user would run after switching engines: schema-configured
collection, auto-embedding ingest with sparse metadata, declarative index
builds at compaction, filtered hybrid search with grouping/pagination/
#-selection, predicate deletes, fork divergence, time travel, GC.
"""

from __future__ import annotations

import pytest

from chroma_spark.api import Client
from chroma_spark.schema import Schema


DOCS = {
    "doc-01": ("spark scan and merge over the table", "infra", 1),
    "doc-02": ("spark window over the batch table", "infra", 2),
    "doc-03": ("gamma ray burst observation catalog", "science", 3),
    "doc-04": ("stellar spectra and redshift tables", "science", 4),
    "doc-05": ("spark merge of observation batches", "infra", 5),
    "doc-06": ("catalog of spectral lines and bursts", "science", 6),
}


def test_full_user_journey(spark, tmp_path):
    client = Client(spark, str(tmp_path / "store"))
    schema = Schema().create_index("vector_index", "#embedding", {"n_lists": 2})
    col = client.create_collection(
        "corpus",
        schema=schema,
        embedding_function="hashing",
        embedding_function_kwargs={"dim": 32},
    )

    # ingest: documents auto-embed via the attached EF; sparse metadata rides
    ids = list(DOCS)
    col.add(
        ids=ids,
        documents=[DOCS[i][0] for i in ids],
        metadatas=[
            {"topic": DOCS[i][1], "rank_hint": DOCS[i][2],
             "sv": {"indices": [DOCS[i][2]], "values": [1.0]}}
            for i in ids
        ],
    )
    assert col.count() == 6

    # compaction builds the schema-configured vector index declaratively
    col.compact()
    assert col._store.meta.indexes.get("vector") is not None
    col.build_sparse_index("sv", n_buckets=4)

    # filtered hybrid search: dense text query + where filter + pagination
    df = col.search(
        where={"topic": {"$eq": "infra"}},
        rank={"$knn": {"query": "spark merge table", "limit": 6}},
        limit=2,
        select=["#id", "#document", "topic"],
    )
    rows = df.collect()
    assert len(rows) == 2
    assert all(DOCS[r["id"]][1] == "infra" for r in rows)

    # grouped search with #-selection across both topics
    df = col.search(
        rank={"$knn": {"query": "catalog of observation", "limit": 6}},
        group_by={"keys": ["topic"], "aggregate": {"$min_k": {"keys": ["#score"], "k": 1}}},
        select=["#id", "topic"],
    )
    by_topic = {r["topic"]: r["id"] for r in df.collect()}
    assert set(by_topic) == {"infra", "science"}

    # sparse $knn over the indexed metadata column
    df = col.search(
        rank={"$knn": {"query": {"indices": [3], "values": [1.0]},
                       "key": "sv", "limit": 2, "idf": False}},
        select=["#id"],
    )
    assert [r["id"] for r in df.collect()] == ["doc-03"]

    # KNN query with include hydration, served by the fresh index
    res = col.query(query_texts=["gamma ray burst"], n_results=2,
                    include=["documents", "metadatas", "distances"])
    assert res["ids"][0][0] == "doc-03"
    assert "burst" in res["documents"][0][0]
    assert res["metadatas"][0][0]["topic"] == "science"

    # predicate delete folds in the WAL; insertion-order pagination holds
    col.delete(where={"topic": {"$eq": "science"}},
               where_document={"$contains": "redshift"})
    remaining = [r["id"] for r in col.get()]
    assert remaining == ["doc-01", "doc-02", "doc-03", "doc-05", "doc-06"]

    # fork diverges zero-copy; parent keeps its state and index
    fork = col.fork("corpus-fork")
    fork.delete(ids=["doc-01"])
    assert fork.count() == 4 and col.count() == 5

    # time travel + gc: the fork references the old base, so gc must keep it
    v_before = col.version
    col.compact()
    assert col.count() == 5
    assert col.snapshot_at(v_before).count() == 6  # pre-delete state on disk
    deleted = col.gc(keep_last=1)
    assert deleted == []  # v_before is the fork's base: survives
    assert col.snapshot_at(v_before).count() == 6
    assert col.count() == 5 and fork.count() == 4


def test_bulk_pipeline_journey_over_testdata(spark, tmp_path):
    """The pipeline-scale journey over the driver's real testdata: bulk
    DataFrame ingest (no driver-side rows), index build, incremental
    compaction of a bulk delta, index-served search parity with exact
    brute force, and a decontamination-style bulk delete."""
    from pyspark.sql import functions as F

    from chroma_spark.operators.knn import exact_knn
    from tests.conftest import SF_SMALL

    client = Client(spark, str(tmp_path / "store"))
    col = client.create_collection("bulk-corpus", space="l2")

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    records = (
        docs.join(embs, docs.doc_id == embs.vec_id, "left")
        .select(
            F.col("doc_id").cast("string").alias("id"),
            F.col("embedding"),
            F.col("text").alias("document"),
            "lang",
            "source",
            F.col("n_chars"),
        )
    )
    n = col.add_records(records)
    assert n == docs.count() and col.count() == n

    # index the corpus; query via the index equals exact brute force when
    # every list is probed
    col.build_vector_index(n_lists=8)
    qvec = [float(x) for x in embs.filter("vec_id = 3").first()["embedding"]]
    got = col.query([qvec], n_results=5)["ids"][0]
    qdf = spark.createDataFrame([(0, qvec)], "query_id INT, embedding ARRAY<FLOAT>")
    snap = col.snapshot().filter("embedding is not null")
    expect = [r.id for r in exact_knn(snap, qdf, k=5, space="l2").orderBy("rank").collect()]
    assert got == expect and got[0] == "3"
    # query() serves a whole-list probe from the exact scan; the index's
    # own top-5 is checked through the executor
    by_index = col._read().ivf_top(qdf, 5, None, None)
    assert [r.id for r in by_index.orderBy("rank").collect()] == expect

    # bulk delta -> incremental compaction (no retrain), still correct
    delta = spark.createDataFrame(
        [("bulk-new", qvec, "fresh document", None, None, None)],
        "id STRING, embedding ARRAY<FLOAT>, document STRING, lang STRING, source STRING, n_chars LONG",
    )
    col.add_records(delta, op="UPSERT")
    trained = col._store.meta.indexes["vector"]["trained_version"]
    col.compact()
    vi = col._store.meta.indexes["vector"]
    assert vi["trained_version"] == trained and vi["version"] == col.version
    assert col.query([qvec], n_results=2)["ids"][0] == ["3", "bulk-new"] or (
        col.query([qvec], n_results=2)["ids"][0] == ["bulk-new", "3"]
    )

    # decontamination-style bulk delete: drop every doc sharing a 5-gram
    # with one "benchmark" source, then verify the collection shrank
    from chroma_spark.operators.decontam import ngram_contamination

    state = col.snapshot().select("id", "document", "source")
    contaminated = ngram_contamination(
        state.filter("source != 'src0' or source is null"),
        state.filter("source = 'src0'"),
        n=3,
    )
    n_bad = contaminated.count()
    assert n_bad > 0
    assert col.delete_records(contaminated) == n_bad
    assert col.count() == n + 1 - n_bad
