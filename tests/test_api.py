"""Write-surface tests: add/update/upsert/delete/get/query/count/peek/fork,
WAL materialization semantics (operation.rs:16-35 fixture T6), compaction,
and conditional-commit version checks.
"""

from __future__ import annotations

import pytest

from chroma_spark.api import Client
from chroma_spark import layout
from chroma_spark.sources.collection import CollectionError, StaleReadError


@pytest.fixture()
def client(spark, tmp_path):
    return Client(spark, str(tmp_path / "store"))


def _index_ids(col, qdf, k: int) -> list[str]:
    """Ids of the vector index's own top ``k`` (query 0), in rank order:
    ``query()`` without ``nprobe`` serves an unquantized index's whole-list
    probe from the exact scan, so index behaviour is observed here."""
    top = col._read().ivf_top(qdf, k, None, None)
    assert top is not None, "the vector index must be fresh"
    return [r.id for r in top.filter("query_id = 0").orderBy("rank").collect()]


def _mk(client, name="c1", dim=4):
    col = client.create_collection(name, dimension=dim, space="l2")
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]],
        documents=["alpha doc", "beta doc", None],
        metadatas=[{"k": 1, "tag": "x"}, {"k": 2, "tag": "y"}, {"k": 3}],
    )
    return col


def test_add_get_count(client):
    col = _mk(client)
    assert col.count() == 3
    rows = col.get(where={"k": {"$gte": 2}})
    assert sorted(r["id"] for r in rows) == ["b", "c"]
    # missing-key semantics: $ne matches the record without 'tag'
    rows = col.get(where={"tag": {"$ne": "x"}})
    assert sorted(r["id"] for r in rows) == ["b", "c"]


def test_duplicate_add_rejected(client):
    col = _mk(client)
    with pytest.raises(CollectionError, match="duplicate"):
        col.add(ids=["a"], embeddings=[[9.0, 0, 0, 0]])
    assert col.count() == 3


def test_update_partial_fields(client):
    col = _mk(client)
    col.update(ids=["a"], documents=["alpha v2"], metadatas=[{"k": 10}])
    row = col.get(ids=["a"])[0]
    assert row["document"] == "alpha v2"
    assert row["k"] == 10
    assert row["tag"] == "x"  # untouched field survives partial update
    # update of nonexistent id is a no-op
    col.update(ids=["zz"], documents=["ghost"])
    assert col.count() == 3


def test_upsert_insert_and_update(client):
    col = _mk(client)
    col.upsert(ids=["c", "d"], documents=["gamma doc", "delta doc"],
               embeddings=[None, [1.0, 1, 0, 0]])
    assert col.count() == 4
    assert col.get(ids=["c"])[0]["document"] == "gamma doc"
    assert col.get(ids=["d"])[0]["document"] == "delta doc"


def test_delete_and_recreate(client):
    col = _mk(client)
    col.delete(ids=["b"])
    assert col.count() == 2
    # delete -> add recreates (OverwriteExisting)
    col.add(ids=["b"], embeddings=[[0, 9.0, 0, 0]], documents=["beta v2"])
    row = col.get(ids=["b"])[0]
    assert row["document"] == "beta v2"
    assert row.get("tag") is None  # old state gone
    # delete by where
    col.delete(where={"k": {"$eq": 1}})
    assert sorted(r["id"] for r in col.get()) == ["b", "c"]


def test_add_records_bulk_ingest_distributed(client, spark):
    """add_records appends a whole DataFrame to the WAL (the 100-TB ingest
    path): parity with list-based add, dup rejection, UPSERT merge, seq
    cursor interleaving with the list API, and compaction fold."""
    col = client.create_collection("bulk", dimension=2, space="l2")
    df = spark.createDataFrame(
        [("a", [1.0, 0.0], "alpha doc", 1), ("b", [0.0, 1.0], "beta doc", 2), ("c", [0.5, 0.5], None, 3)],
        "id STRING, embedding ARRAY<FLOAT>, document STRING, k LONG",
    )
    assert col.add_records(df) == 3
    assert col.count() == 3
    rows = {r["id"]: r for r in col.get()}
    assert rows["a"]["document"] == "alpha doc" and rows["b"]["k"] == 2
    assert [r["id"] for r in col.get(where={"k": {"$gte": 2}})] != []

    with pytest.raises(CollectionError, match="duplicate"):
        col.add_records(df)
    with pytest.raises(CollectionError, match="'id' column"):
        col.add_records(df.drop("id"))
    with pytest.raises(CollectionError, match="reserved"):
        col.add_records(df.withColumnRenamed("k", "seq_id"))
    with pytest.raises(CollectionError, match="unsupported metadata"):
        col.add_records(df.withColumn("bad", F_create_map()))

    # bulk UPSERT merges non-null fields; list API interleaves cleanly after
    up = spark.createDataFrame(
        [("a", None, "alpha v2", None), ("d", [0.9, 0.1], "delta doc", 4)],
        "id STRING, embedding ARRAY<FLOAT>, document STRING, k LONG",
    )
    assert col.add_records(up, op="UPSERT") == 2
    assert col.count() == 4
    got = {r["id"]: r for r in col.get()}
    assert got["a"]["document"] == "alpha v2" and got["a"]["k"] == 1  # merge kept k
    col.add(ids=["e"], embeddings=[[0.1, 0.9]])  # list API after bulk: cursor advanced
    assert col.count() == 5
    assert col.get()[-1]["id"] == "e"  # insertion-offset pagination still last

    col.compact()
    assert col.count() == 5
    res = col.query([[0.9, 0.1]], n_results=1)
    assert res["ids"][0] == ["d"]

    # dimension guard
    with pytest.raises(CollectionError, match="dimension"):
        col.add_records(
            spark.createDataFrame([("z", [1.0, 0.0, 0.0])], "id STRING, embedding ARRAY<FLOAT>")
        )


def F_create_map():
    from pyspark.sql import functions as F

    return F.create_map(F.lit("x"), F.lit(1))


def test_delete_records_bulk_and_decontam_composition(client, spark):
    """delete_records removes a DataFrame of ids — the shape a dedup or
    decontamination pass produces — without driver-side lists."""
    from chroma_spark.operators.decontam import ngram_contamination

    col = client.create_collection("bulkdel", dimension=2)
    docs = [
        ("a", "the quick brown fox jumps"),
        ("b", "totally original content here"),
        ("c", "again the quick brown fox appears"),
    ]
    col.add_records(
        spark.createDataFrame(
            [(i, [1.0, 0.0], d) for i, d in docs],
            "id STRING, embedding ARRAY<FLOAT>, document STRING",
        )
    )
    eval_set = spark.createDataFrame(
        [("e1", "saw the quick brown fox leap")], "id STRING, document STRING"
    )
    contaminated = ngram_contamination(
        col.snapshot().select("id", "document"), eval_set, n=4
    )
    assert col.delete_records(contaminated) == 2
    assert sorted(r["id"] for r in col.get()) == ["b"]
    col.compact()
    assert col.count() == 1
    with pytest.raises(CollectionError, match="'id' column"):
        col.delete_records(eval_set.drop("id"))


def test_add_records_duplicate_ids_need_order_by(client, spark):
    """Duplicate ids within one UPDATE/UPSERT batch are rejected unless an
    order_by column makes the winner deterministic; with order_by the LAST
    row in sort order wins the WAL fold — reproducible across partition
    layouts (ADVICE r4: monotonically_increasing_id alone made it
    layout-dependent)."""
    col = client.create_collection("bulkdup", dimension=2)
    col.add_records(
        spark.createDataFrame(
            [("a", [1.0, 0.0], "v0")], "id STRING, embedding ARRAY<FLOAT>, document STRING"
        )
    )
    dup = spark.createDataFrame(
        [("a", None, "v1", 1), ("a", None, "v3", 3), ("a", None, "v2", 2)],
        "id STRING, embedding ARRAY<FLOAT>, document STRING, rev LONG",
    ).repartition(3)
    with pytest.raises(CollectionError, match="order_by"):
        col.add_records(dup, op="UPSERT")
    with pytest.raises(CollectionError, match="order_by columns"):
        col.add_records(dup, op="UPSERT", order_by="nope")
    assert col.add_records(dup, op="UPSERT", order_by="rev") == 3
    got = {r["id"]: r for r in col.get()}
    assert got["a"]["document"] == "v3" and got["a"]["rev"] == 3
    # order_by never legalizes duplicates in an ADD batch
    with pytest.raises(CollectionError, match="duplicate"):
        client.create_collection("bulkdup2", dimension=2).add_records(
            dup.select("id", "embedding", "document", "rev"), order_by="rev"
        )


def test_add_records_auto_embeds_with_attached_ef(client, spark):
    col = client.create_collection(
        "bulkef", embedding_function="hashing", embedding_function_kwargs={"dim": 16}
    )
    df = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "gamma delta")], "id STRING, document STRING"
    )
    assert col.add_records(df) == 2
    rows = col.get(include=["embeddings", "documents"])
    assert all(len(r["embedding"]) == 16 for r in rows)
    # the Arrow-embedded vectors match the client-side EF exactly
    res = col.query(query_texts=["alpha beta"], n_results=1)
    assert res["ids"][0] == ["a"] and res["distances"][0][0] < 1e-6


def test_query_knn_and_read_levels(client):
    col = _mk(client)
    res = col.query([[1.0, 0, 0, 0]], n_results=2)
    assert res["ids"][0][0] == "a"
    assert res["distances"][0][0] == 0.0
    col.compact()
    # pre-compaction write visible at index_and_wal, not at index_only
    col.add(ids=["e"], embeddings=[[0.9, 0, 0, 0]])
    assert col.count() == 4
    assert col.count(read_level="index_only") == 3
    # bounded-staleness read: WAL tail cut at a scouted seq_id
    col.add(ids=["f"], embeddings=[[0.8, 0, 0, 0]])
    full = col.snapshot("index_and_wal")
    tail_seqs = sorted(
        r["seq_id"] for r in col._store.read_log(col._store.meta).select("seq_id").collect()
    )
    bounded = col.snapshot("index_and_bounded_wal", log_bound=tail_seqs[0])
    assert bounded.count() == 4  # "e" visible, "f" (later seq) not
    assert full.count() == 5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        col.snapshot("index_and_bounded_wal")


@pytest.mark.parametrize("read", ["query", "search"])
def test_read_is_not_torn_by_a_concurrent_compaction(client, monkeypatch, read):
    """A compaction that commits while a read resolves its state must not
    tear it. Compaction leaves the logical state unchanged, so a read that
    takes base and WAL tail from one catalog state returns the same ids
    either way; pairing the old base with the truncated log would drop the
    uncompacted insert."""
    from chroma_spark.sources.collection import CollectionStore

    col = client.create_collection(f"torn_{read}", dimension=2, space="l2")
    col.add(ids=["a", "b", "c"], embeddings=[[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    col.build_vector_index(n_lists=1)
    col.add(ids=["new"], embeddings=[[0.9, 0.1]])  # uncompacted insert
    # the hook sits on the WAL-tail read: the base frame of a resident
    # state passes on to the next state without a new read_base
    read_log = CollectionStore.read_log
    compacted: dict = {}

    def read_log_then_compact(store, *args, **kwargs):
        df = read_log(store, *args, **kwargs)
        if not compacted:  # once: the compaction's own reads pass through
            compacted["version"] = None
            compacted["version"] = client.get_collection(col.name).compact()
        return df

    monkeypatch.setattr(CollectionStore, "read_log", read_log_then_compact)
    if read == "query":
        ids = col.query([[1.0, 0.0]], n_results=4)["ids"][0]
    else:
        rank = {"$knn": {"query": [1.0, 0.0], "limit": 4}}
        ids = [r["id"] for r in col.search(rank=rank, select=["#id"]).collect()]
    assert compacted == {"version": 2}, "the compaction must commit inside the read"
    assert sorted(ids) == ["a", "b", "c", "new"]


def test_compact_then_same_results(client):
    col = _mk(client)
    col.update(ids=["a"], metadatas=[{"k": 99}])
    before = sorted((r["id"], r.get("k")) for r in col.get())
    v = col.compact()
    assert v == 1
    after = sorted((r["id"], r.get("k")) for r in col.get())
    assert before == after


def test_fork_zero_copy_divergence(client):
    col = _mk(client)
    fork = col.fork("c1-fork")
    fork.add(ids=["z"], embeddings=[[0, 0, 0, 1.0]])
    assert fork.count() == 4
    assert col.count() == 3  # parent unaffected


def test_conditional_commit_version_check(client):
    col = _mk(client)
    meta = col._store.meta
    with pytest.raises(CollectionError, match="conditional commit"):
        col._store.catalog.update(meta, expected_version=42)


def test_search_on_collection(client):
    col = _mk(client)
    df = col.search(
        rank={"$knn": {"query": [1.0, 0, 0, 0], "limit": 3}},
        limit=2,
        select=["id"],
    )
    rows = df.collect()
    assert [r["id"] for r in rows] == ["a", "d"] or rows[0]["id"] == "a"


def test_search_select_special_keys(client):
    """#-key selection (operator.py:1239-1326): #document/#embedding map to
    record fields, #metadata expands to every metadata column."""
    col = _mk(client)
    rank = {"$knn": {"query": [1.0, 0, 0, 0], "limit": 3}}
    df = col.search(rank=rank, select=["#id", "#document", "#metadata"])
    assert set(df.columns) == {"id", "document", "k", "tag", "score"}
    df2 = col.search(rank=rank, select=["#embedding", "#score"])
    assert set(df2.columns) == {"embedding", "score"}
    with pytest.raises(ValueError, match="unknown special"):
        col.search(rank=rank, select=["#nope"])


def test_peek(client):
    col = _mk(client)
    assert len(col.peek(limit=2)) == 2


# ---------------------------------------------------------------------------
# Tenant / database namespaces + Collection.modify
# ---------------------------------------------------------------------------


def test_tenant_database_namespacing(spark, tmp_path):
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    c_default = Client(spark, root)
    c_default.create_collection("shared", dimension=2)

    c_default.create_tenant("acme")
    c_default.create_database("prod", tenant="acme")
    c_acme = Client(spark, root, tenant="acme", database="prod")
    c_acme.create_collection("shared", dimension=4)  # same name, no clash

    assert c_default.list_collections() == ["shared"]
    assert c_acme.list_collections() == ["shared"]
    assert c_default.get_collection("shared")._store.meta.dimension == 2
    assert c_acme.get_collection("shared")._store.meta.dimension == 4
    assert c_acme.list_tenants() == ["acme", "default_tenant"]
    assert c_acme.list_databases() == ["prod"]


def test_unknown_database_rejected(spark, tmp_path):
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    Client(spark, root)  # creates defaults
    with pytest.raises(CollectionError, match="does not exist"):
        Client(spark, root, tenant="ghost", database="db")


def test_modify_rename_and_metadata(client):
    col = _mk(client, name="orig")
    col.modify(metadata={"purpose": "test"})
    assert col._store.meta.metadata == {"purpose": "test"}
    col.modify(name="renamed")
    assert col.name == "renamed"
    assert client.list_collections() == ["renamed"]
    # data survives the rename (paths are absolute in the meta)
    assert col.count() == 3
    with pytest.raises(CollectionError):
        client.get_collection("orig")


def test_modify_metadata_keeps_engine_keys(client):
    """Engine state lives in typed catalog fields, never in the user's
    metadata: with dense and sparse EFs, all four indexes, a tokenizer and
    an attached function in place, ``meta.metadata`` holds only user keys
    and the HTTP collection model returns it unfiltered. modify(metadata=
    ...) replaces the USER metadata only: the embedding function and the
    FTS index descriptor survive, so later document adds still embed and
    document filters stay index-served; a user key in the ``__`` namespace
    is rejected."""
    from chroma_spark.server import _collection_model

    col = client.create_collection(
        "modef", embedding_function="hashing", embedding_function_kwargs={"dim": 16},
        sparse_embedding_function="bm25_sparse", metadata={"team": "data"},
    )
    col.add(ids=["a", "b"], documents=["quick brown fox", "lazy dog sleeps"])
    col.build_vector_index(n_lists=1)
    col.build_sparse_index("sparse", n_buckets=4)
    col.build_dedup_index(num_perm=8, bands=2)
    col.build_fts_index()
    col.build_tokenizer(n_merges=4)
    col.attach_function("counts", "record_counter")
    meta = col._store.meta
    assert meta.metadata == {"team": "data"}
    assert _collection_model(client, "modef")["metadata"] == {"team": "data"}
    assert set(meta.indexes) == {"vector", "sparse:sparse", "dedup", "fts"}
    assert set(meta.config) == {
        "embedding_function", "sparse_embedding_function", "tokenizer", "functions"
    }
    col.modify(metadata={"purpose": "test"})
    meta = col._store.meta
    assert meta.metadata == {"purpose": "test"}
    assert "embedding_function" in meta.config and "fts" in meta.indexes
    col.add(ids=["c"], documents=["quick red fox"])
    (got,) = col.get(ids=["c"], include=["embeddings"])
    assert got["embedding"] is not None and len(got["embedding"]) == 16
    wd = {"$contains": "quick"}
    assert col._read().fts_candidates(wd) is not None
    assert sorted(r["id"] for r in col.get(where_document=wd)) == ["a", "c"]
    with pytest.raises(CollectionError, match="reserved"):
        col.modify(metadata={"purpose": "x", "__fts_index__": None})
    meta = col._store.meta
    assert meta.metadata == {"purpose": "test"} and meta.indexes["fts"] is not None


def test_modify_rename_clash_rejected(client):
    _mk(client, name="a1")
    col = _mk(client, name="b1")
    with pytest.raises(CollectionError, match="already exists"):
        col.modify(name="a1")


def test_query_include_hydration(client):
    """QueryResult carries documents/metadatas/embeddings/uris per include
    (chromadb/api/types.py:619-651), hydrated winners-only."""
    col = _mk(client)
    res = col.query(
        [[1.0, 0, 0, 0]],
        n_results=2,
        include=["documents", "metadatas", "embeddings", "uris", "distances"],
    )
    assert res["ids"][0][0] == "a"
    assert res["documents"][0][0] == "alpha doc"
    assert res["metadatas"][0][0] == {"k": 1, "tag": "x"}
    assert res["embeddings"][0][0] == [1.0, 0.0, 0.0, 0.0]
    assert res["uris"][0] == [None, None]
    assert res["distances"][0][0] == 0.0
    # record 'c' has a null document and partial metadata
    resc = col.query([[0, 0, 1.0, 0]], n_results=1)
    assert resc["documents"][0] == [None]
    assert resc["metadatas"][0][0] == {"k": 3}
    # default include has no embeddings
    assert "embeddings" not in resc
    with pytest.raises(CollectionError, match="unknown include"):
        col.query([[1.0, 0, 0, 0]], include=["nope"])


def test_search_empty_collection_returns_empty(client):
    col = client.create_collection("esearch", dimension=2)
    df = col.search(rank={"$knn": {"query": [1.0, 0], "limit": 3}}, select=["#id"])
    assert df.collect() == []
    assert col.search().collect() == []  # un-ranked form too


def test_schema_configured_index_builds_at_compaction(client):
    from chroma_spark.schema import Schema

    schema = Schema().create_index("vector_index", "#embedding", {"n_lists": 2})
    col = client.create_collection("auto_idx", dimension=2, schema=schema)
    col.add(ids=["a", "b", "c"], embeddings=[[1.0, 0], [0, 1.0], [0.7, 0.7]])
    assert col._store.meta.indexes.get("vector") is None
    col.compact()  # declarative: schema config -> index written by compaction
    vi = col._store.meta.indexes["vector"]
    assert vi is not None and vi["version"] == col.version and vi["n_lists"] == 2
    assert col.query([[1.0, 0]], n_results=1)["ids"][0] == ["a"]
    qdf = client.spark.createDataFrame([(0, [1.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    assert _index_ids(col, qdf, 1) == ["a"]


def test_quantized_vector_index_lifecycle(client, spark):
    import random

    col = client.create_collection("qidx", dimension=8)
    rnd = random.Random(11)
    ids = [f"q{i}" for i in range(20)]
    embs = [[rnd.random() for _ in range(8)] for _ in ids]
    col.add(ids=ids, embeddings=embs)
    vi = col.build_vector_index(n_lists=2, quantized=True, rerank_factor=24)
    assert vi.get("means") is not None and len(vi["means"]) == 8
    res = col.query([embs[3]], n_results=3)
    assert res["ids"][0][0] == "q3" and res["distances"][0][0] == 0.0
    # tail merge still works on the quantized path
    col.add(ids=["qnew"], embeddings=[embs[3]])
    res = col.query([embs[3]], n_results=4)
    assert set(res["ids"][0][:2]) == {"q3", "qnew"}
    # compaction refresh preserves quantization
    col.compact()
    assert col._store.meta.indexes["vector"].get("means") is not None


def test_query_empty_collection_per_query_lists(client):
    col = client.create_collection("empty", dimension=2)
    res = col.query([[1.0, 0], [0, 1.0]], n_results=3)
    assert res["ids"] == [[], []]
    assert res["distances"] == [[], []]
    assert res["documents"] == [[], []]
    assert res["metadatas"] == [[], []]


def test_query_ids_prefilter(client):
    col = _mk(client)
    res = col.query([[1.0, 0, 0, 0]], n_results=3, ids=["b", "c"])
    assert set(res["ids"][0]) == {"b", "c"}  # 'a' excluded despite distance 0


def test_compact_runs_attached_functions(client, spark):
    from chroma_spark.streaming import AttachedFunction, statistics

    col = _mk(client)
    v = col.compact(attached=[AttachedFunction("stats", lambda state, log: statistics(state, ["tag"]))])
    import os

    out_dir = os.path.join(client.catalog.root, col._store.name, "fn_stats", f"v{v}")
    stats = {(r.key, r.value): r.n for r in spark.read.parquet(out_dir).collect()}
    assert stats[("tag", "x")] == 1 and stats[("tag", "__null__")] == 1


def test_version_time_travel_and_gc(client, spark):
    col = _mk(client, name="tt")
    col.compact()  # v1: a, b, c
    col.delete(ids=["a"])
    col.compact()  # v2: b, c
    col.upsert(ids=["d"], embeddings=[[0.0, 0.0, 0.0, 1.0]])
    col.compact()  # v3: b, c, d
    assert col.list_versions() == [1, 2, 3]
    assert sorted(r.id for r in col.snapshot_at(1).collect()) == ["a", "b", "c"]
    assert sorted(r.id for r in col.snapshot_at(2).collect()) == ["b", "c"]

    # grace=0 sweeps in one pass; with a grace the first pass only MARKS
    # (concurrent-reader protection), so prune deterministically here
    assert col.gc(keep_last=1) == []  # default grace: marked, not swept
    deleted = col.gc(keep_last=1, grace_seconds=0)
    assert deleted == [1, 2] and col.list_versions() == [3]
    with pytest.raises(StaleReadError, match="not on disk"):
        col.snapshot_at(1)
    assert col.count() == 3  # current state untouched


def test_get_include_gates_metadata(client):
    col = _mk(client)
    rows = col.get(ids=["a"], include=[])
    assert set(rows[0].keys()) == {"id"}
    rows = col.get(ids=["a"], include=["documents"])
    assert set(rows[0].keys()) == {"id", "document"}
    rows = col.get(ids=["a"], include=["metadatas"])
    assert set(rows[0].keys()) == {"id", "k", "tag"}


def test_gc_grace_is_mark_and_sweep(client):
    """A just-superseded base version must survive a graced gc pass even
    though the DIRECTORY is old (mtime is creation time — the cross-
    process reader race the mark-and-sweep exists for), then sweep once a
    pass runs >= grace after the mark, and lose its mark if re-referenced
    in between."""
    import json
    import os

    col = _mk(client, name="gcmark")
    col.compact()  # v1
    col.upsert(ids=["d"], embeddings=[[0.0, 0.0, 0.0, 1.0]])
    col.compact()  # v2 — v1 superseded this instant
    # pass 1 with a grace: v1 is only marked, a concurrent reader that
    # resolved v1 as head keeps its files
    assert col.gc(keep_last=1, grace_seconds=60.0) == []
    assert col.list_versions() == [1, 2]
    marks_path = os.path.join(client.catalog.root, col._store.name, ".gc_marks.json")
    marks = json.load(open(marks_path))
    assert any(p.endswith(os.sep + "v1") or "v1" in p for p in marks)
    # age the mark past the grace: the next pass sweeps
    json.dump({p: t - 120.0 for p, t in marks.items()}, open(marks_path, "w"))
    assert col.gc(keep_last=1, grace_seconds=60.0) == [1]
    assert col.list_versions() == [2]
    assert not os.path.exists(marks_path)  # no candidates left -> no marks


def test_gc_removes_stale_index_versions(client):
    import os

    col = client.create_collection("gcidx", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[1.0, 0], [0, 1.0]])
    col.build_vector_index(n_lists=1)  # v1 index
    col.add(ids=["c"], embeddings=[[0.5, 0.5]])
    col.build_vector_index(n_lists=1)  # v2 index; v1's is now unreferenced
    idx_root = os.path.join(client.catalog.root, col._store.name, "index_vector")
    assert sorted(os.listdir(idx_root)) == ["v1", "v2"]
    col.gc(keep_last=1, grace_seconds=0)
    assert sorted(os.listdir(idx_root)) == ["v2"]
    assert col.query([[1.0, 0]], n_results=1)["ids"][0] == ["a"]


def test_gc_preserves_fork_referenced_versions(client):
    col = _mk(client, name="parent")
    col.compact()  # v1 — about to be referenced by the fork
    fork = col.fork("child")
    col.update(ids=["a"], metadatas=[{"k": 99}])
    col.compact()  # v2
    deleted = col.gc(keep_last=1)
    assert deleted == []  # v1 is the fork's base: must survive
    assert fork.count() == 3


def test_gc_preserves_fork_pinned_index_layout_and_prunes_orphan_logs(client):
    """Fork ref-counting across ALL artifact kinds: a fork pins the
    parent's index layout and WAL batches by path, so the parent's gc must
    keep them even after the parent rebuilds its own index — while WAL
    batch dirs referenced by nobody are pruned from disk (compact() resets
    log_paths but leaves the files for exactly this fork case)."""
    import os

    col = client.create_collection("gcfork", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    col.build_vector_index(n_lists=1)  # v1 layout
    col.add(ids=["c"], embeddings=[[0.5, 0.5]])  # un-compacted WAL batch
    fork = col.fork("gcfork_child")  # pins v1 layout + the live WAL batch

    col.add(ids=["d"], embeddings=[[0.2, 0.8]])
    col.build_vector_index(n_lists=1)  # parent now on a newer layout
    n_logs_before = len(col._store.list_log_batch_dirs())
    col.gc(keep_last=1, grace_seconds=0)

    idx_root = os.path.join(client.catalog.root, col._store.name, "index_vector")
    assert os.path.isdir(os.path.join(idx_root, "v1"))  # fork-pinned layout survives
    # fork still queries through the pinned layout and sees its WAL tail
    assert fork.query([[0.5, 0.5]], n_results=1)["ids"][0] == ["c"]
    assert fork.count() == 3
    # the parent's own compactions folded every batch it references, so the
    # only batch dirs left are the fork-pinned ones
    remaining = set(col._store.list_log_batch_dirs())
    assert remaining == set(fork._store.meta.log_paths)
    assert len(remaining) < n_logs_before
    # parent unaffected throughout
    assert col.count() == 4


def test_attached_embedding_function_auto_embed_and_query_texts(client):
    col = client.create_collection(
        "ef", embedding_function="hashing", embedding_function_kwargs={"dim": 16}
    )
    col.add(ids=["a", "b"], documents=["alpha beta", "gamma delta"])
    rows = col.get(include=["embeddings", "documents"])
    assert all(len(r["embedding"]) == 16 for r in rows)

    res = col.query(query_texts=["alpha beta"], n_results=1)
    assert res["ids"][0] == ["a"] and res["distances"][0][0] < 1e-6

    with pytest.raises(CollectionError, match="not both"):
        col.query(query_embeddings=[[0.0] * 16], query_texts=["x"])
    with pytest.raises(CollectionError, match="required"):
        col.query()


def test_search_string_knn_query_embeds_clientside(client):
    """String $knn queries embed with the attached EF before the search
    runs (Collection.py:447-449)."""
    col = client.create_collection(
        "efsearch", embedding_function="hashing", embedding_function_kwargs={"dim": 16}
    )
    col.add(ids=["a", "b"], documents=["alpha beta", "gamma delta"])
    rows = col.search(rank={"$knn": {"query": "alpha beta", "limit": 2}}, select=["#id"]).collect()
    assert rows[0]["id"] == "a" and rows[0]["score"] < 1e-6
    plain = _mk(client)
    with pytest.raises(CollectionError, match="embedding function"):
        plain.search(rank={"$knn": {"query": "text", "limit": 1}})


def test_query_texts_without_ef_rejected(client):
    col = _mk(client)
    with pytest.raises(CollectionError, match="embedding function"):
        col.query(query_texts=["hello"])


def test_unknown_embedding_function_rejected_at_create(client):
    with pytest.raises(KeyError, match="unknown embedding function"):
        client.create_collection("bad", embedding_function="nope")


# ---------------------------------------------------------------------------
# Vector-index lifecycle: build -> index-served query -> WAL-tail knn_merge
# -> staleness fallback (reference: compaction writes the vector segment,
# knn_log + knn_hnsw -> knn_merge, operators/knn_merge.rs:43)
# ---------------------------------------------------------------------------


def test_vector_index_lifecycle_and_knn_merge(client, spark):
    import random

    col = client.create_collection("vidx", dimension=4, space="l2")
    rnd = random.Random(3)
    ids = [f"r{i}" for i in range(12)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    col.add(ids=ids, embeddings=embs, metadatas=[{"grp": i % 2} for i in range(12)])
    vi = col.build_vector_index(n_lists=3)
    assert vi["version"] == col.version

    q = [embs[5]]
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in embs[5]])], "query_id INT, embedding ARRAY<FLOAT>"
    )
    # the index path engages (nprobe defaults to all lists -> exact)
    assert col._read().ivf_top(qdf, 3, None, None) is not None
    res = col.query(q, n_results=3)
    assert res["ids"][0][0] == "r5" and res["distances"][0][0] == 0.0

    # filtered KNN restricts within the probed lists (allowed-ids semi-join)
    res = col.query(q, n_results=4, where={"grp": {"$eq": 0}})
    assert all(int(i[1:]) % 2 == 0 for i in res["ids"][0])

    # WAL tail after the build: add/update/delete all honored via knn_merge
    col.add(ids=["new"], embeddings=[embs[5]])
    col.update(ids=["r5"], embeddings=[[9.0, 9.0, 9.0, 9.0]])
    col.delete(ids=["r7"])
    res = col.query(q, n_results=12)
    assert res["ids"][0][0] == "new"          # tail-side insert wins
    assert "r7" not in res["ids"][0]          # tail-side delete excluded
    by_id = dict(zip(res["ids"][0], res["distances"][0]))
    assert by_id["r5"] > 100                  # tail-side update moved it away
    assert _index_ids(col, qdf, 12) == res["ids"][0]  # the index's knn_merge agrees

    # pending predicate delete: the index stays engaged (matched ids are
    # computed vectorized against base and excluded; no wholesale fallback)
    col.delete(where={"never_there": {"$eq": 1}})
    assert col._read().ivf_top(qdf, 3, None, None) is not None
    assert col.query(q, n_results=3)["ids"][0][0] == "new"

    # a descriptor older than the collection is stale -> exact fallback
    col.compact()
    col._store.catalog.mutate(
        col._store.name, lambda m: m.indexes["vector"].__setitem__("version", m.version - 1)
    )
    assert col._read().ivf_top(qdf, 3, None, None) is None
    assert col.query(q, n_results=3)["ids"][0][0] == "new"
    col.build_vector_index(n_lists=3)
    assert col._read().ivf_top(qdf, 3, None, None) is not None
    assert col.query(q, n_results=3)["ids"][0][0] == "new"

    # default compact() refreshes the registered index for the new version
    # (the reference's compaction flushes the vector segment's index too)
    col.add(ids=["new2"], embeddings=[[0.1, 0.1, 0.1, 0.1]])
    col.compact()
    assert col._store.meta.indexes["vector"]["version"] == col.version
    assert col._read().ivf_top(qdf, 3, None, None) is not None


def test_fork_inherits_vector_index(client, spark):
    col = client.create_collection("vparent", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[1.0, 0], [0, 1.0]])
    col.build_vector_index(n_lists=1)
    fork = col.fork("vchild")
    qdf = spark.createDataFrame([(0, [1.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    # the child serves from the parent's index files (zero-copy)
    assert fork._read().ivf_top(qdf, 2, None, None) is not None
    assert fork.query([[1.0, 0]], n_results=1)["ids"][0] == ["a"]
    # divergent child writes merge through the tail; parent untouched
    fork.add(ids=["z"], embeddings=[[1.0, 0.0]])
    assert fork.query([[1.0, 0]], n_results=2)["ids"][0] == ["a", "z"]
    assert col.query([[1.0, 0]], n_results=2)["ids"][0] == ["a", "b"]


def test_compaction_maintains_index_incrementally(client, spark):
    """A small delta must NOT retrain k-means or rewrite the corpus: the
    trained centroids stay byte-identical, the delta is appended at the new
    epoch, and the index-served query equals brute force over the snapshot.
    Cumulative drift past REINDEX_FRACTION then triggers a retrain."""
    import random

    from chroma_spark.operators.knn import exact_knn

    col = client.create_collection("vinc", dimension=4, space="l2")
    rnd = random.Random(7)
    ids = [f"r{i}" for i in range(40)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    col.add(ids=ids, embeddings=embs)
    vi = col.build_vector_index(n_lists=4)
    trained = vi["trained_version"]
    cents0 = sorted(tuple(r.centroid) for r in col._ivf(col._store.meta.indexes["vector"])[0].collect())

    col.add(ids=["n1"], embeddings=[[2.0, 2, 2, 2]])
    col.update(ids=["r3"], embeddings=[[3.0, 3, 3, 3]])
    col.delete(ids=["r4"])
    col.compact()
    vi2 = col._store.meta.indexes["vector"]
    assert vi2["trained_version"] == trained, "small delta must not retrain"
    assert vi2["version"] == col.version and vi2["n_appended"] == 3
    cents1 = sorted(tuple(r.centroid) for r in col._ivf(col._store.meta.indexes["vector"])[0].collect())
    assert cents1 == cents0, "centroid table must be untouched by the delta"

    # live postings reflect the delta: n1 present, r4 gone, r3 moved
    live = {r.id for r in col._ivf(col._store.meta.indexes["vector"])[1].select("id").distinct().collect()}
    assert "n1" in live and "r4" not in live and "r3" in live

    # with no WAL tail, the index-served query must equal exact brute force
    # (nprobe defaults to every list)
    assert col._store.meta.log_paths == []
    qdf = spark.createDataFrame([(0, [2.0, 2.0, 2.0, 2.0])], "query_id INT, embedding ARRAY<FLOAT>")
    assert col._read().ivf_top(qdf, 5, None, None) is not None
    got = col.query([[2.0, 2, 2, 2]], n_results=5)["ids"][0]
    exact = exact_knn(col.snapshot().filter("embedding is not null"), qdf, k=5, space="l2")
    assert got == [r.id for r in exact.orderBy("rank").collect()]
    assert _index_ids(col, qdf, 5) == got
    assert got[0] == "n1"

    # cumulative drift beyond REINDEX_FRACTION * n_rows retrains
    col.add(
        ids=[f"m{i}" for i in range(30)],
        embeddings=[[rnd.random() for _ in range(4)] for _ in range(30)],
    )
    col.compact()
    vi3 = col._store.meta.indexes["vector"]
    assert vi3["trained_version"] == col.version, "drift must trigger a retrain"
    assert vi3["n_appended"] == 0


def test_compaction_maintains_sparse_index_incrementally(client):
    """Same discipline as the vector index: a small delta appends at the
    new epoch (no rewrite), deletes tombstone, search agrees with the
    ground truth, and drift rebuilds."""
    col = client.create_collection("sinc", dimension=2)
    ids = [f"d{i}" for i in range(20)]
    col.add(
        ids=ids,
        embeddings=[[float(i), 1.0] for i in range(20)],
        metadatas=[{"sv": {"indices": [i % 4], "values": [1.0 + i]}} for i in range(20)],
    )
    si0 = col.build_sparse_index("sv", n_buckets=4)
    assert si0["epoch"] == col.version and si0["n_appended"] == 0

    col.add(ids=["n1"], embeddings=[[99.0, 1.0]], metadatas=[{"sv": {"indices": [1], "values": [50.0]}}])
    col.delete(ids=["d5"])
    col.update(ids=["d6"], metadatas=[{"sv": {"indices": [2], "values": [40.0]}}])
    v_before = col.version
    col.compact()
    si = col._store.meta.indexes["sparse:sv"]
    assert si["version"] == col.version and si["epoch"] == col.version
    assert si["n_appended"] == 3
    assert si["path"] == si0["path"], "small delta must not rewrite the layout"
    assert si["n_docs"] == 20.0  # 20 + n1 - d5
    assert col.version == v_before + 1

    live = layout.live(si, "postings")
    live_ids = {r.id for r in live.select("id").distinct().collect()}
    assert "n1" in live_ids and "d5" not in live_ids
    assert "__epoch" not in live.columns

    # index-served search equals the snapshot truth: top doc for term 1 is n1
    rank = {"$knn": {"query": {"indices": [1], "values": [1.0]}, "key": "sv", "limit": 3}}
    top = [r["id"] for r in col.search(rank=rank, select=["#id"]).collect()]
    assert top[0] == "n1"
    # updated doc d6 serves its NEW posting (old term-1 entry tombstoned)
    rank2 = {"$knn": {"query": {"indices": [2], "values": [1.0]}, "key": "sv", "limit": 3}}
    top2 = [r["id"] for r in col.search(rank=rank2, select=["#id"]).collect()]
    assert top2[0] == "d6"

    # drift: touch >50% of docs -> rebuild resets the layout + counters
    col.add(
        ids=[f"m{i}" for i in range(15)],
        embeddings=[[0.0, float(i)] for i in range(15)],
        metadatas=[{"sv": {"indices": [3], "values": [2.0]}} for _ in range(15)],
    )
    col.compact()
    si2 = col._store.meta.indexes["sparse:sv"]
    assert si2["n_appended"] == 0 and si2["path"] != si0["path"], "drift must rebuild"


@pytest.mark.parametrize("kind", ["vector", "sparse"])
def test_index_maintenance_never_skips_a_batch(client, kind):
    """Building another index kind compacts first; the index that missed
    that compaction must not be marked fresh by the next one with only
    the last batch appended (it would silently lose the batch it missed)."""
    col = client.create_collection(f"skip_{kind}", dimension=2)
    col.add(
        ids=[f"a{i}" for i in range(8)],
        embeddings=[[float(i), 1.0] for i in range(8)],
        documents=[f"doc {i}" for i in range(8)],
        metadatas=[{"sv": {"indices": [i % 3], "values": [1.0]}} for i in range(8)],
    )
    if kind == "vector":
        col.build_vector_index(n_lists=2)
    else:
        col.build_sparse_index("sv", n_buckets=4)
    col.add(ids=["far"], embeddings=[[100.0, 100.0]], documents=["far away"],
            metadatas=[{"sv": {"indices": [9], "values": [5.0]}}])
    col.build_fts_index()  # another kind's build folds "far" into the base
    col.add(ids=["late"], embeddings=[[0.5, 0.5]], documents=["late doc"],
            metadatas=[{"sv": {"indices": [0], "values": [1.0]}}])
    col.compact()
    if kind == "vector":
        assert col.query([[100.0, 100.0]], n_results=1)["ids"][0] == ["far"]
        qdf = client.spark.createDataFrame([(0, [100.0, 100.0])], "query_id INT, embedding ARRAY<FLOAT>")
        assert _index_ids(col, qdf, 1) == ["far"]
    else:
        rank = {"$knn": {"query": {"indices": [9], "values": [1.0]}, "key": "sv", "limit": 1}}
        assert [r["id"] for r in col.search(rank=rank, select=["#id"]).collect()] == ["far"]


def test_sparse_n_docs_after_maintenance_equals_rebuild(client):
    """The IDF denominator has one definition — docs with at least one
    posting — so an incrementally maintained index scores exactly like a
    fresh rebuild of the same state, empty sparse vectors included."""
    col = client.create_collection("ndocs", dimension=2)
    empty = {"indices": [], "values": []}
    col.add(
        ids=["a", "b", "c", "d"],
        embeddings=[[1.0, 0.0]] * 4,
        metadatas=[{"sv": {"indices": [0, 1], "values": [1.0, 2.0]}}, {"sv": empty},
                   {"sv": {"indices": [1], "values": [3.0]}}, {"sv": empty}],
    )
    assert col.build_sparse_index("sv", n_buckets=4)["n_docs"] == 2
    col.add(ids=["e"], embeddings=[[0.0, 1.0]],
            metadatas=[{"sv": {"indices": [0], "values": [4.0]}}])
    col.compact()
    rank = {"$knn": {"query": {"indices": [0, 1], "values": [1.0, 1.0]}, "key": "sv", "limit": 5}}

    def _scores():
        return {r["id"]: round(r["score"], 9) for r in col.search(rank=rank, select=["#id"]).collect()}

    maintained = _scores()
    n_maintained = col._read().sparse_indexes(keys={"sv"})["sv"][2]
    rebuilt = col.build_sparse_index("sv", n_buckets=4)
    assert maintained == _scores()
    assert n_maintained == rebuilt["n_docs"] == 3


def test_sq4_index_lifecycle_and_incremental_maintenance(client):
    """quantized='sq4' registers the 4-bit tier: queries serve via ADC +
    re-rank, compaction appends deltas encoded with the TRAINED (lo, step),
    and the tail merge stays correct."""
    import random

    col = client.create_collection("vsq4", dimension=4, space="l2")
    rnd = random.Random(13)
    ids = [f"s{i}" for i in range(30)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    col.add(ids=ids, embeddings=embs)
    vi = col.build_vector_index(n_lists=3, quantized="sq4")
    assert vi["rerank_factor"] == 4 and len(vi["sq4_lo"]) == 4 and "means" not in vi
    assert col.query([embs[7]], n_results=1)["ids"][0] == ["s7"]

    # WAL tail merges; then compaction appends with the trained ranges
    col.add(ids=["zz"], embeddings=[[2.0, 2, 2, 2]])
    assert col.query([[2.0, 2, 2, 2]], n_results=1)["ids"][0] == ["zz"]
    col.compact()
    vi2 = col._store.meta.indexes["vector"]
    assert vi2["trained_version"] == vi["trained_version"]
    assert vi2["sq4_lo"] == vi["sq4_lo"] and vi2["sq4_step"] == vi["sq4_step"]
    assert col.query([[2.0, 2, 2, 2]], n_results=1)["ids"][0] == ["zz"]
    assert col.query([embs[7]], n_results=1)["ids"][0] == ["s7"]

    with pytest.raises(CollectionError, match="quantization tier"):
        col.build_vector_index(quantized="rabitq")


def test_pq_index_lifecycle_and_incremental_maintenance(client):
    """quantized='pq' registers the product-quantization tier: codebooks
    persist beside the layout (not the catalog), queries serve via LUT-ADC
    + re-rank, and compaction appends deltas encoded with the TRAINED
    codebooks."""
    import os
    import random

    col = client.create_collection("vpq", dimension=8, space="l2")
    rnd = random.Random(29)
    ids = [f"p{i}" for i in range(40)]
    embs = [[rnd.random() for _ in range(8)] for _ in ids]
    col.add(ids=ids, embeddings=embs)
    vi = col.build_vector_index(n_lists=3, quantized="pq")
    assert vi["rerank_factor"] == 8 and vi["pq"]["m"] == 1
    assert "means" not in vi and "sq4_lo" not in vi
    assert os.path.exists(os.path.join(vi["path"], "pq_books.json"))
    assert col.query([embs[7]], n_results=1)["ids"][0] == ["p7"]

    # WAL tail merges; then compaction appends with the trained codebooks
    col.add(ids=["zz"], embeddings=[[2.0] * 8])
    assert col.query([[2.0] * 8], n_results=1)["ids"][0] == ["zz"]
    col.compact()
    vi2 = col._store.meta.indexes["vector"]
    assert vi2["trained_version"] == vi["trained_version"]
    assert col.query([[2.0] * 8], n_results=1)["ids"][0] == ["zz"]
    assert col.query([embs[7]], n_results=1)["ids"][0] == ["p7"]
    # appended delta rows carry pq codes (encoded with trained books)
    postings = col._ivf(col._store.meta.indexes["vector"])[1]
    assert postings.filter("pq_code is null").count() == 0

    # dim not divisible by 8 -> clean refusal
    col8 = client.create_collection("vpq_dim", dimension=4, space="l2")
    col8.add(ids=["a"], embeddings=[[0.1, 0.2, 0.3, 0.4]])
    with pytest.raises(CollectionError, match="divisible by 8"):
        col8.build_vector_index(quantized="pq")


def test_incremental_maintenance_soak_many_cycles(client, spark):
    """Five add/update/delete/re-add + compact cycles against one trained
    index: every cycle's full-probe query must equal exact brute force over
    the snapshot (repeated tombstone + re-add of the SAME id across epochs
    is where epoch MVCC could slip), and k-means must never retrain."""
    import random

    from chroma_spark.operators.knn import exact_knn

    col = client.create_collection("vsoak", dimension=4, space="l2")
    rnd = random.Random(5)
    ids = [f"r{i}" for i in range(24)]
    col.add(ids=ids, embeddings=[[rnd.random() for _ in range(4)] for _ in ids])
    trained = col.build_vector_index(n_lists=3)["trained_version"]

    victim = "r0"  # deleted and re-added every cycle
    for cycle in range(5):
        col.delete(ids=[victim])
        col.add(ids=[victim], embeddings=[[float(cycle), 0.5, 0.5, 0.5]])
        col.update(ids=["r1"], embeddings=[[0.5, float(cycle), 0.5, 0.5]])
        col.compact()
        vi = col._store.meta.indexes["vector"]
        assert vi["trained_version"] == trained, f"cycle {cycle} retrained"
        assert vi["version"] == col.version
        q = [float(cycle), 0.5, 0.5, 0.5]
        qdf = spark.createDataFrame([(0, q)], "query_id INT, embedding ARRAY<FLOAT>")
        got = col.query([q], n_results=6)["ids"][0]
        exact = exact_knn(
            col.snapshot().filter("embedding is not null"), qdf, k=6, space="l2"
        )
        assert got == [r.id for r in exact.orderBy("rank").collect()], f"cycle {cycle}"
        assert _index_ids(col, qdf, 6) == got, f"cycle {cycle}"
        assert got[0] == victim
        # exactly one live posting per id despite 5 generations of appends
        live = col._ivf(col._store.meta.indexes["vector"])[1].groupBy("id").count()
        over = live.filter(F_col_count_gt(2)).collect()  # replicas=2 per id max
        assert over == [], over


def F_col_count_gt(n):
    from pyspark.sql import functions as F

    return F.col("count") > n


def test_quantized_index_incremental_append_uses_trained_pivot(client, spark):
    col = client.create_collection("vincq", dimension=4, space="l2")
    import random

    rnd = random.Random(11)
    ids = [f"q{i}" for i in range(30)]
    col.add(ids=ids, embeddings=[[rnd.random() for _ in range(4)] for _ in ids])
    vi = col.build_vector_index(n_lists=3, quantized=True, rerank_factor=24)
    means0 = vi["means"]
    col.add(ids=["zz"], embeddings=[[2.0, 2, 2, 2]])
    col.compact()
    vi2 = col._store.meta.indexes["vector"]
    assert vi2["trained_version"] == vi["trained_version"]
    assert vi2["means"] == means0, "delta must encode with the trained pivot"
    # appended row is code-searchable end to end
    assert col.query([[2.0, 2, 2, 2]], n_results=1)["ids"][0] == ["zz"]


def test_fork_isolated_from_parent_incremental_appends(client):
    """Epoch MVCC on the shared layout: after a fork, the parent's
    incremental compactions append rows/tombstones at LATER epochs into
    the same files — the child, pinned at the fork version, must keep
    reading its original state (deleted ids still visible, parent's new
    ids invisible) from those shared files without any copy."""
    col = client.create_collection("vmvcc", dimension=2)
    # big enough that the parent's 2-id delta stays under REINDEX_FRACTION
    ids = ["a", "b", "c"] + [f"f{i}" for i in range(7)]
    col.add(
        ids=ids,
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]] + [[2.0 + i, 2.0] for i in range(7)],
        metadatas=[{"sv": {"indices": [0], "values": [3.0]}},
                   {"sv": {"indices": [0], "values": [2.0]}},
                   {"sv": {"indices": [0], "values": [1.0]}}] + [{}] * 7,
    )
    col.build_vector_index(n_lists=1)
    col.build_sparse_index("sv", n_buckets=2)
    child = col.fork("vmvcc-child")

    # parent diverges: new vector, delete 'b', compact (incremental append)
    col.add(ids=["p1"], embeddings=[[0.9, 0.1]],
            metadatas=[{"sv": {"indices": [0], "values": [9.0]}}])
    col.delete(ids=["b"])
    col.compact()
    assert col._store.meta.indexes["vector"]["path"] == child._store.meta.indexes["vector"]["path"]

    # parent sees its new state
    qdf = client.spark.createDataFrame([(0, [0.0, 1.0])], "query_id INT, embedding ARRAY<FLOAT>")
    got_parent = set(col.query([[0.0, 1.0]], n_results=4)["ids"][0])
    assert "p1" in got_parent and "b" not in got_parent
    assert set(_index_ids(col, qdf, 4)) == got_parent
    # child still sees the fork-time state from the SAME shared files
    got_child = set(child.query([[0.0, 1.0]], n_results=4)["ids"][0])
    assert "b" in got_child and "p1" not in got_child
    assert set(_index_ids(child, qdf, 4)) == got_child
    rank = {"$knn": {"query": {"indices": [0], "values": [1.0]}, "key": "sv", "limit": 4}}
    child_sparse = {r["id"] for r in child.search(rank=rank, select=["#id"]).collect()}
    assert child_sparse == {"a", "b", "c"}
    parent_sparse = {r["id"] for r in col.search(rank=rank, select=["#id"]).collect()}
    assert parent_sparse == {"a", "c", "p1"}


def test_build_vector_index_autocompacts_and_rejects_empty(client):
    col = client.create_collection("vempty", dimension=2)
    with pytest.raises(CollectionError, match="empty"):
        col.build_vector_index()
    col.add(ids=["a", "b"], embeddings=[[1.0, 0], [0, 1.0]])
    v_before = col.version
    vi = col.build_vector_index(n_lists=1)
    assert col.version == v_before + 1  # pending WAL compacted first
    assert vi["version"] == col.version


# ---------------------------------------------------------------------------
# Insertion-offset pagination + predicate deletes (VERDICT r1 #3/#8)
# ---------------------------------------------------------------------------


def test_get_orders_by_insertion_offset_not_string_id(client):
    """limit.rs:23-36: un-ranked get orders by internal offset id. With
    string ids '10' < '2' lexicographically — insertion order must win."""
    col = client.create_collection("offs", dimension=2)
    col.add(ids=["10", "2", "1"], embeddings=[[1.0, 0], [0, 1.0], [1.0, 1.0]])
    assert [r["id"] for r in col.get()] == ["10", "2", "1"]
    assert [r["id"] for r in col.get(limit=2, offset=1)] == ["2", "1"]
    assert [r["id"] for r in col.peek(limit=1)] == ["10"]


def test_offset_survives_update_and_compact_but_not_readd(client):
    col = client.create_collection("offs2", dimension=2)
    col.add(ids=["b", "a"], embeddings=[[1.0, 0], [0, 1.0]])
    col.update(ids=["b"], documents=["updated"])  # update keeps the offset
    assert [r["id"] for r in col.get()] == ["b", "a"]
    col.compact()
    assert [r["id"] for r in col.get()] == ["b", "a"]  # offset persisted in base
    col.delete(ids=["b"])
    col.add(ids=["b"], embeddings=[[2.0, 0]])  # re-add = fresh offset (end)
    assert [r["id"] for r in col.get()] == ["a", "b"]


def test_no_arg_delete_raises(client):
    col = _mk(client)
    with pytest.raises(CollectionError, match="requires"):
        col.delete()
    assert col.count() == 3


def test_predicate_delete_stores_predicate_not_expansion(client):
    col = _mk(client)
    n_log_rows_before = col._store.read_log(col._store.meta).count()
    col.delete(where={"k": {"$gte": 2}})
    log = col._store.read_log(col._store.meta)
    # exactly ONE new log record, carrying the predicate
    assert log.count() == n_log_rows_before + 1
    assert log.filter(log.op == "DELETE_WHERE").count() == 1
    assert sorted(r["id"] for r in col.get()) == ["a"]
    # fold survives compaction too
    col.compact()
    assert sorted(r["id"] for r in col.get()) == ["a"]


def test_predicate_delete_where_document_and_ids(client):
    col = _mk(client)
    # ids AND where must both match (reference delete combines constraints)
    col.delete(ids=["a", "b"], where={"k": {"$eq": 2}})
    assert sorted(r["id"] for r in col.get()) == ["a", "c"]
    col.delete(where_document={"$contains": "alpha"})
    assert sorted(r["id"] for r in col.get()) == ["c"]


def test_predicate_delete_then_readd(client):
    col = _mk(client)
    col.delete(where={"tag": {"$eq": "x"}})  # removes 'a'
    assert sorted(r["id"] for r in col.get()) == ["b", "c"]
    col.add(ids=["a"], embeddings=[[5.0, 0, 0, 0]], metadatas=[{"tag": "x"}])
    # the predicate applied at ITS seq position — not to the later re-add
    assert sorted(r["id"] for r in col.get()) == ["a", "b", "c"]


def test_sparse_vector_metadata_and_hybrid_search(client):
    """SparseVector metadata values (base_types.py:13-117) survive the WAL
    fold and serve sparse $knn terms in search() — the record-side half of
    hybrid search."""
    col = client.create_collection("svcol", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]],
        metadatas=[
            {"sv": {"indices": [0, 2], "values": [1.0, 2.0]}},
            {"sv": {"indices": [2, 5], "values": [3.0, 1.0]}},
            {"sv": {"indices": [7], "values": [4.0], "labels": ["rare"]}},
        ],
    )
    row = col.get(ids=["a"])[0]
    assert row["sv"]["indices"] == [0, 2] and row["sv"]["values"] == [1.0, 2.0]
    assert col.get(ids=["c"])[0]["sv"]["labels"] == ["rare"]
    # sparse $knn over the metadata column (idf off: hand-checkable dots)
    df = col.search(
        rank={"$knn": {"query": {"indices": [0, 2], "values": [1.0, 1.0]},
                       "key": "sv", "limit": 3, "idf": False}},
        select=["#id"],
    )
    scores = {r["id"]: r["score"] for r in df.collect()}
    assert scores == {"a": 1.0 - 3.0, "b": 1.0 - 3.0}  # c shares no term
    # malformed sparse metadata rejected at write time
    with pytest.raises(Exception, match="ascending"):
        col.add(ids=["z"], embeddings=[[0.0, 0]],
                metadatas=[{"sv": {"indices": [3, 1], "values": [1.0, 1.0]}}])


def test_sparse_index_lifecycle_in_search(client):
    """build_sparse_index -> search sparse $knn reads the bucket-pruned
    index; WAL-tail writes merge via anti-join + tail postings union (the
    sparse_index_knn + sparse_log_knn pipeline)."""
    col = client.create_collection("svidx", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]],
        metadatas=[
            {"sv": {"indices": [0, 2], "values": [1.0, 2.0]}},
            {"sv": {"indices": [2, 5], "values": [3.0, 1.0]}},
            {"sv": {"indices": [7], "values": [4.0]}},
        ],
    )
    si = col.build_sparse_index("sv", n_buckets=8)
    assert si["version"] == col.version and si["n_docs"] == 3.0
    rank = {"$knn": {"query": {"indices": [0, 2], "values": [1.0, 1.0]},
                     "key": "sv", "limit": 4, "idf": False}}
    scores = {r["id"]: r["score"] for r in col.search(rank=rank, select=["#id"]).collect()}
    assert scores == {"a": -2.0, "b": -2.0}
    # tail writes: update b's vector, delete a, add d — index entries for
    # touched ids must not leak through
    col.update(ids=["b"], metadatas=[{"sv": {"indices": [2], "values": [10.0]}}])
    col.delete(ids=["a"])
    col.add(ids=["d"], embeddings=[[0.0, 0]],
            metadatas=[{"sv": {"indices": [0], "values": [7.0]}}])
    scores = {r["id"]: r["score"] for r in col.search(rank=rank, select=["#id"]).collect()}
    assert scores == {"b": 1.0 - 10.0, "d": 1.0 - 7.0}
    # compaction refreshes the sparse index for the new version
    col.compact()
    assert col._store.meta.indexes["sparse:sv"]["version"] == col.version
    assert col._store.meta.indexes["sparse:sv"]["n_docs"] == 3.0  # b, c, d
    scores = {r["id"]: r["score"] for r in col.search(rank=rank, select=["#id"]).collect()}
    assert scores == {"b": 1.0 - 10.0, "d": 1.0 - 7.0}


def _hybrid_tail_collection(client):
    """A collection with a fresh sparse index on ``sv`` and a WAL tail that
    UPDATEs ``sv``, DELETEs, ADDs and holds a pending ``delete(where=...)``."""
    import random

    rnd = random.Random(11)
    ids = [f"r{i:02d}" for i in range(40)]

    def sv():
        idx = sorted(rnd.sample(range(12), rnd.randint(1, 4)))
        return {"indices": idx, "values": [round(rnd.uniform(0.1, 3.0), 3) for _ in idx]}

    col = client.create_collection("hyb", dimension=3, space="cosine")
    col.add(
        ids=ids,
        embeddings=[[rnd.uniform(-1, 1) for _ in range(3)] for _ in ids],
        metadatas=[{"grp": i % 3, "sv": sv()} for i in range(len(ids))],
    )
    si = col.build_sparse_index("sv", n_buckets=4)
    col.update(ids=["r01", "r05"], metadatas=[{"sv": sv()}, {"sv": sv()}])
    col.delete(ids=["r02", "r07"])
    col.add(ids=["n0", "n1"], embeddings=[[0.3, 0.1, 0.9], [0.9, 0.2, 0.1]],
            metadatas=[{"grp": 0, "sv": sv()}, {"grp": 1, "sv": sv()}])
    col.delete(where={"grp": {"$eq": 2}})
    return col, si


def _hybrid_payloads():
    dense = {"query": [0.5, 0.5, 0.1], "limit": 12, "default": 12.0}
    sparse = {"query": {"indices": [1, 4, 9], "values": [1.0, 0.5, 2.0]}, "key": "sv",
              "limit": 12, "default": 12.0}
    from chroma_spark.operators.rank import rrf

    for idf in (True, False):
        sp = {**sparse, "idf": idf}
        yield {"rank": rrf([dense, sp]), "limit": 8}
        yield {"rank": {"$sum": [{"$knn": dense}, {"$knn": sp}]},
               "where": {"grp": {"$eq": 0}}, "offset": 2, "limit": 5}
        yield {"rank": {"$sum": [{"$knn": dense}, {"$knn": {**sp, "return_rank": True}}]},
               "where": {"grp": {"$in": [0, 1]}}, "limit": 20}


def test_hybrid_search_scan_matches_index_lowering(client):
    """A search with a dense $knn term scores its sparse terms per record
    over the candidates; ids and scores equal the sparse-index lowering of
    the same view (index postings merged with the WAL tail, IDF n from
    the index descriptor), filtered or not, idf on or off, paged."""
    from chroma_spark.operators.search import search as search_op

    col, _ = _hybrid_tail_collection(client)
    for payload in _hybrid_payloads():
        got = [(r["id"], r["score"]) for r in col.search(**payload, select=["#id", "#score"]).collect()]
        ex = col._read()
        want = search_op(
            ex.records(),
            where=payload.get("where"),
            rank=payload["rank"],
            offset=payload.get("offset", 0),
            limit=payload["limit"],
            select=["#id", "#score"],
            default_space=ex.meta.space,
            offset_col="offset_id",
            sparse_index=ex.sparse_indexes({"sv"}),
        )
        want = [(r["id"], r["score"]) for r in want.collect()]
        assert got and got == want, payload


def test_hybrid_search_plan_scans_records_only(client, spark):
    """A hybrid search reads no sparse-index layout and explodes nothing:
    each $knn term is one TakeOrderedAndProject over the records (plus one
    for the page). A sparse-only rank on the same collection still reads
    the index with the query's buckets as partition filters."""
    col, si = _hybrid_tail_collection(client)
    payload = next(_hybrid_payloads())
    plan = col.search(**payload)._jdf.queryExecution().executedPlan().toString()
    assert si["path"] not in plan and "Generate" not in plan
    assert plan.count("TakeOrderedAndProject") == 3, plan
    sparse = {"$knn": {"query": {"indices": [1, 4], "values": [1.0, 0.5]}, "key": "sv", "limit": 5}}
    df = col.search(rank=sparse, limit=5)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert any(
        "PartitionFilters" in line and "bucket" in line for line in formatted.splitlines()
    ), formatted


@pytest.mark.parametrize("indexed", [False, True])
def test_search_with_two_sparse_terms_caches_nothing(client, spark, indexed):
    """Searches whose rank has two sparse terms on one key leave Spark's
    persistent-RDD count where the first left it (the batched sparse top-k
    is shared through exchange reuse, never persisted)."""
    from chroma_spark.operators.rank import rrf

    col = client.create_collection(f"twosparse{int(indexed)}", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]],
        metadatas=[{"sv": {"indices": [0, 2], "values": [1.0, 2.0]}},
                   {"sv": {"indices": [2, 5], "values": [3.0, 1.0]}},
                   {"sv": {"indices": [0, 7], "values": [4.0, 1.0]}}],
    )
    if indexed:
        col.build_sparse_index("sv", n_buckets=4)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    counts = []
    for w in range(5):
        terms = [{"query": {"indices": [0, 2], "values": [1.0, 1.0]}, "key": "sv", "limit": 3},
                 {"query": {"indices": [5, 7], "values": [1.0, 2.0 + w]}, "key": "sv", "limit": 3}]
        rows = col.search(rank=rrf(terms, weights=[1.0, 1.0 + w]), limit=3).collect()
        assert rows
        counts.append(len(persistent()))
    assert counts == [counts[0]] * 5, counts


def test_search_dense_knn_skips_records_without_vector(client, spark):
    """A dense $knn term scores only records with a vector in its column,
    as query() does: records added without an embedding never rank."""
    col = client.create_collection("novec", dimension=2)
    col.add(ids=["a"], embeddings=[[1.0, 0.0]])
    col.add(ids=["m"], documents=["hello"])
    col.add_records(spark.createDataFrame(
        [("n", None, "world")], "id STRING, embedding ARRAY<FLOAT>, document STRING"
    ))
    rows = col.search(rank={"$knn": {"query": [1.0, 0.0], "limit": 3}}).collect()
    assert [(r["id"], r["score"]) for r in rows] == [("a", 0.0)]


def test_search_knn_on_unwritten_key(client):
    """A $knn on a key no record has written has an empty support on a
    non-empty collection too; the merge rules decide the rest."""
    col = client.create_collection("nokey", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    sparse = {"query": {"indices": [0], "values": [1.0]}, "key": "sv", "limit": 3}
    assert col.search(rank={"$knn": sparse}).collect() == []
    assert col.search(rank={"$knn": {"query": [1.0, 0.0], "key": "#img", "limit": 3}}).collect() == []
    dense = {"query": [1.0, 0.0], "limit": 3}
    rows = col.search(rank={"$sum": [{"$knn": dense}, {"$knn": {**sparse, "default": 5.0}}]}).collect()
    assert [(r["id"], r["score"]) for r in rows] == [("a", 5.0), ("b", 7.0)]


def test_add_records_rejects_malformed_sparse_vectors(client, spark):
    """add_records checks SparseVector columns as add() does: indices
    non-negative and strictly ascending, one value each. A rejected batch
    leaves the collection as it was, so every stored record is one that
    the per-record scorer and the postings index score alike."""
    from chroma_spark.operators.rank import rrf
    from chroma_spark.sparse_vector import SPARSE_VECTOR_TYPE

    col = client.create_collection("sparsecheck", dimension=2)
    schema = "id STRING, embedding ARRAY<FLOAT>, indices ARRAY<INT>, vals ARRAY<FLOAT>"

    def batch(rows):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(rows, schema)
        sv = F.struct(F.col("indices").alias("indices"), F.col("vals").alias("values"),
                      F.lit(None).cast("array<string>").alias("labels"))
        sv = F.when(F.col("indices").isNotNull(), sv.cast(SPARSE_VECTOR_TYPE))
        return df.select("id", "embedding", sv.alias("sv"))

    good = [("a", [1.0, 0.0], [0, 3], [1.0, 2.0]), ("b", [0.0, 1.0], [3, 7], [0.5, 1.0]),
            ("c", [0.6, 0.4], None, None)]
    assert col.add_records(batch(good)) == 3
    for bad in ([0, 0], [3, 1], [-1, 2], [1]):
        vals = [1.0, 2.0]
        with pytest.raises(CollectionError, match="strictly ascending"):
            col.add_records(batch([("z", [1.0, 1.0], bad, vals)]))
    assert col.count() == 3
    sparse = {"query": {"indices": [3], "values": [1.0]}, "key": "sv", "limit": 3, "idf": False}
    only = {r["id"]: r["score"] for r in col.search(rank={"$knn": sparse}).collect()}
    assert only == {"a": 1.0 - 2.0, "b": 1.0 - 0.5}
    hybrid = col.search(rank=rrf([{"query": [1.0, 0.0], "limit": 3}, sparse]), limit=3).collect()
    assert {r["id"] for r in hybrid} == {"a", "b"}  # no default: c has no sparse rank


def test_delete_empty_id_list_with_where_deletes_nothing(client):
    """ids=[] is a real matches-nothing constraint, not 'no constraint' —
    the intersection with any predicate is empty."""
    col = _mk(client)
    col.delete(ids=[], where={"k": {"$gte": 0}})
    assert col.count() == 3


def test_delete_where_type_mismatched_literal_deletes_nothing(client):
    """Metadata values are type-strict (the reference's MetadataValue):
    ``True`` never equals an integer, nor ``"1"`` the integer 1. A pending
    ``delete(where={"k": True})`` on an integer key deletes nothing, and
    every read path and the compaction over it succeed."""
    col = _mk(client, "tmis")
    col.build_vector_index(n_lists=2)
    col.delete(where={"k": True})
    assert sorted(r["id"] for r in col.get()) == ["a", "b", "c"]
    assert col.count() == 3
    assert col.query([[1.0, 0, 0, 0]], n_results=1, nprobe=1)["ids"][0] == ["a"]
    col.compact()
    assert col.count() == 3
    assert col.get(where={"k": "1"}) == []


def test_two_predicate_deletes_around_an_update_agree_on_every_path(client):
    """Each pending predicate delete applies at its own seq: an UPDATE
    between two of them makes r0 match only the second, and cannot revive
    r1, which the first already deleted. get, the flat query, the index
    probe and the compacted base agree."""
    import random

    rnd = random.Random(5)
    ids = [f"r{i}" for i in range(12)]
    # two well-separated clusters: the nprobe=1 probe reaches the query's own
    embs = [[(0.0 if i < 6 else 10.0) + rnd.random() for _ in range(4)] for i in range(12)]
    col = client.create_collection("twowhere", dimension=4, space="l2")
    col.add(ids=ids, embeddings=embs, metadatas=[{"grp": i % 3} for i in range(12)])
    col.build_vector_index(n_lists=2)
    col.delete(where={"grp": 1})
    col.update(ids=["r0", "r1"], metadatas=[{"grp": 2}, {"grp": 0}])
    col.delete(where={"grp": 2})
    survivors = {"r3", "r6", "r9"}

    assert {r["id"] for r in col.get()} == survivors
    assert set(col.query([embs[3]], n_results=5)["ids"][0]) == survivors
    flat = col.query([embs[6]], n_results=2)
    assert flat["ids"][0] == ["r6", "r9"]
    assert col.query([embs[6]], n_results=2, nprobe=1) == flat
    col.compact()
    base = col._store.read_base(col._store.meta)
    assert {r.id for r in base.select("id").collect()} == survivors
    assert {r["id"] for r in col.get()} == survivors


def test_compact_deregisters_index_when_collection_empties(client):
    col = client.create_collection("vgone", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[1.0, 0], [0, 1.0]])
    col.build_vector_index(n_lists=1)
    col.delete(ids=["a", "b"])
    v = col.compact()  # must not crash the k-means build on zero vectors
    assert col.count() == 0 and col.version == v
    assert col._store.meta.indexes.get("vector") is None
    # and the collection keeps working afterwards
    col.add(ids=["c"], embeddings=[[0.5, 0.5]])
    assert col.query([[0.5, 0.5]], n_results=1)["ids"][0] == ["c"]


def test_search_empty_collection_with_sparse_rank(client):
    col = client.create_collection("esparse", dimension=2)
    df = col.search(
        rank={"$knn": {"query": {"indices": [0], "values": [1.0]}, "key": "sv", "limit": 2}},
        select=["#id"],
    )
    assert df.collect() == []


def test_filtered_sparse_idf_consistent_inline_vs_indexed(client):
    """A where-filtered sparse search must score identically whether it
    reads the persisted index or falls back inline: IDF stats always come
    from the whole corpus, the filter only restricts the support."""
    col = client.create_collection("idfc", dimension=2)
    col.add(
        ids=["a", "b", "c", "d"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5], [0.2, 0.8]],
        metadatas=[
            {"grp": "x", "sv": {"indices": [0, 1], "values": [1.0, 1.0]}},
            {"grp": "x", "sv": {"indices": [1], "values": [2.0]}},
            {"grp": "y", "sv": {"indices": [0], "values": [3.0]}},
            {"grp": "y", "sv": {"indices": [1, 2], "values": [1.0, 1.0]}},
        ],
    )
    col.build_sparse_index("sv", n_buckets=4)
    rank = {"$knn": {"query": {"indices": [0, 1], "values": [1.0, 1.0]}, "key": "sv", "limit": 4}}
    indexed = {
        r["id"]: r["score"]
        for r in col.search(where={"grp": {"$eq": "x"}}, rank=rank, select=["#id"]).collect()
    }
    # the same corpus without a persisted index scores via the inline path
    col2 = client.create_collection("idfc2", dimension=2)
    col2.add(
        ids=["a", "b", "c", "d"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5], [0.2, 0.8]],
        metadatas=[
            {"grp": "x", "sv": {"indices": [0, 1], "values": [1.0, 1.0]}},
            {"grp": "x", "sv": {"indices": [1], "values": [2.0]}},
            {"grp": "y", "sv": {"indices": [0], "values": [3.0]}},
            {"grp": "y", "sv": {"indices": [1, 2], "values": [1.0, 1.0]}},
        ],
    )
    inline = {
        r["id"]: r["score"]
        for r in col2.search(where={"grp": {"$eq": "x"}}, rank=rank, select=["#id"]).collect()
    }
    assert inline == indexed and set(inline) == {"a", "b"}
    # a pending predicate delete no longer abandons the index: the spec is
    # still served (matched ids excluded via the bounded tail fold) and a
    # nothing-matching predicate leaves scores identical
    col.delete(where={"never": {"$eq": 1}})
    assert col._read().sparse_indexes(keys={"sv"}) != {}
    tolerated = {
        r["id"]: r["score"]
        for r in col.search(where={"grp": {"$eq": "x"}}, rank=rank, select=["#id"]).collect()
    }
    assert tolerated == indexed


def test_index_reads_tolerate_matching_predicate_deletes(client, spark):
    """Pending DELETE_WHERE with real matches: vector and sparse reads stay
    index-served and agree exactly with the post-compaction ground truth."""
    col = client.create_collection("pdel", dimension=2)
    ids = [f"r{i}" for i in range(10)]
    col.add(
        ids=ids,
        embeddings=[[float(i), float(10 - i)] for i in range(10)],
        metadatas=[
            {"grp": "x" if i % 2 else "y", "sv": {"indices": [i % 3], "values": [1.0 + i]}}
            for i in range(10)
        ],
    )
    col.build_vector_index(n_lists=2)
    col.build_sparse_index("sv", n_buckets=4)
    col.delete(where={"grp": {"$eq": "x"}})  # matches r1,r3,r5,r7,r9 — pending

    qdf = spark.createDataFrame([(0, [2.0, 8.0])], "query_id INT, embedding ARRAY<FLOAT>")
    assert col._read().ivf_top(qdf, 4, None, None) is not None
    got_vec = col.query([[2.0, 8.0]], n_results=4)["ids"][0]
    assert _index_ids(col, qdf, 4) == got_vec
    assert col._read().sparse_indexes(keys={"sv"}) != {}
    rank = {"$knn": {"query": {"indices": [1], "values": [1.0]}, "key": "sv", "limit": 5}}
    got_sparse = [r["id"] for r in col.search(rank=rank, select=["#id"]).collect()]

    col.compact()  # ground truth: predicate applied for real
    assert col.query([[2.0, 8.0]], n_results=4)["ids"][0] == got_vec
    assert [r["id"] for r in col.search(rank=rank, select=["#id"]).collect()] == got_sparse
    assert not any(int(i[1:]) % 2 for i in got_vec), "deleted grp=x ids leaked"


def test_array_metadata_values_and_contains(client):
    """Array metadata (Bool/Int/Float/StringArray, metadata.rs:673-681)
    round-trips through the WAL and serves $contains/$not_contains."""
    col = client.create_collection("arr", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]],
        metadatas=[
            {"tags": ["red", "hot"], "nums": [1, 2]},
            {"tags": ["blue"], "nums": [2.5, 3]},  # mixed int/float -> float
            {"tags": []},
        ],
    )
    rows = {r["id"]: r for r in col.get()}
    assert rows["a"]["tags"] == ["red", "hot"]
    assert rows["b"]["nums"] == [2.5, 3.0]
    assert rows["c"]["tags"] == [] and rows["c"]["nums"] is None
    got = [r["id"] for r in col.get(where={"tags": {"$contains": "red"}})]
    assert got == ["a"]
    got = sorted(r["id"] for r in col.get(where={"tags": {"$not_contains": "red"}}))
    assert got == ["b", "c"]  # empty array and missing both count as not-contains
    got = [r["id"] for r in col.get(where={"nums": {"$contains": 2}})]
    assert got == ["a"]
    with pytest.raises(CollectionError, match="mixed element types"):
        col.add(ids=["z"], embeddings=[[0.0, 0]], metadatas=[{"tags": ["x", 1]}])
    # survives compaction + predicate delete over the array
    col.compact()
    col.delete(where={"tags": {"$contains": "blue"}})
    assert sorted(r["id"] for r in col.get()) == ["a", "c"]


def test_mixed_numeric_metadata_coerces_to_float(client):
    col = client.create_collection("mx", dimension=2)
    col.add(
        ids=["i", "f"],
        embeddings=[[1.0, 0], [0, 1.0]],
        metadatas=[{"x": 1}, {"x": 2.5}],
    )
    vals = {r["id"]: r["x"] for r in col.get()}
    assert vals == {"i": 1.0, "f": 2.5}
    assert all(isinstance(v, float) for v in vals.values())
    with pytest.raises(CollectionError, match="mixed types"):
        col.add(
            ids=["s", "s2"],
            embeddings=[[1.0, 1], [0, 1.0]],
            metadatas=[{"y": 1}, {"y": "str"}],
        )


def test_query_batch_matches_query_exact_and_indexed(spark, tmp_path):
    import math
    import random

    from chroma_spark.api import Client

    rnd = random.Random(7)
    n, dim = 120, 8
    ids = [f"r{i}" for i in range(n)]
    vecs = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    client = Client(spark, str(tmp_path / "qb_root"))
    col = client.create_collection("c", dimension=dim, space="l2")
    col.add(ids=ids, embeddings=vecs, metadatas=[{"bucket": i % 3} for i in range(n)])

    qdf = spark.createDataFrame(
        [(i, vecs[i * 10]) for i in range(4)], "query_id INT, embedding ARRAY<FLOAT>"
    )

    def _collect(df):
        return {
            (r.query_id, r.rank): (r.id, round(r.dist, 5))
            for r in df.collect()
        }

    # exact path (no index): per-query API agrees with the batch join
    batch = _collect(col.query_batch(qdf, n_results=5))
    for qi in range(4):
        res = col.query(query_embeddings=[vecs[qi * 10]], n_results=5)
        for rank0, (rid, dist) in enumerate(zip(res["ids"][0], res["distances"][0])):
            assert batch[(qi, rank0 + 1)][0] == rid
            assert math.isclose(batch[(qi, rank0 + 1)][1], round(dist, 5), abs_tol=1e-4)

    # filtered batch respects the predicate
    fb = col.query_batch(qdf, n_results=5, where={"bucket": 1})
    got_ids = {r.id for r in fb.collect()}
    allowed = {ids[i] for i in range(n) if i % 3 == 1}
    assert got_ids <= allowed and fb.count() == 20

    # index-served path returns the same winners
    col.compact()
    col.build_vector_index(n_lists=4)
    ib = _collect(col.query_batch(qdf, n_results=5))
    assert set(ib) == set(batch)
    assert {k: v[0] for k, v in ib.items()} == {k: v[0] for k, v in batch.items()}
    by_index = _collect(col._read().ivf_top(qdf, 5, None, None))
    assert {k: v[0] for k, v in by_index.items()} == {k: v[0] for k, v in batch.items()}

    # empty collection: empty frame with the caller's query_id type
    empty_col = client.create_collection("empty", dimension=dim)
    out = empty_col.query_batch(qdf, n_results=3, where={"x": 1})
    assert out.count() == 0 and dict(out.dtypes)["query_id"] == "int"


def test_sparse_query_batch_inline_and_indexed(client):
    """Distributed sparse retrieval join: inline snapshot scoring and the
    persisted bucket index agree, with and without bucket pruning."""
    col = client.create_collection("svbatch", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0], [0, 1.0], [0.5, 0.5]],
        metadatas=[
            {"sv": {"indices": [0, 2], "values": [1.0, 2.0]}},
            {"sv": {"indices": [2, 5], "values": [3.0, 1.0]}},
            {"sv": {"indices": [7], "values": [4.0]}},
        ],
    )
    spark = col._client.spark
    qdf = spark.createDataFrame(
        [
            (0, {"indices": [0, 2], "values": [1.0, 1.0]}),
            (1, {"indices": [7], "values": [2.0]}),
        ],
        "query_id INT, sv STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )

    def got(df):
        return {(r.query_id, r.id): r.score for r in df.collect()}

    expected = {(0, "a"): 3.0, (0, "b"): 3.0, (1, "c"): 8.0}
    inline = got(col.sparse_query_batch(qdf, key="sv", n_results=3, idf=False))
    assert inline == expected

    col.compact()
    col.build_sparse_index("sv", n_buckets=4)
    indexed = got(col.sparse_query_batch(qdf, key="sv", n_results=3, idf=False))
    assert indexed == expected
    unpruned = got(
        col.sparse_query_batch(qdf, key="sv", n_results=3, idf=False, prune_buckets=False)
    )
    assert unpruned == expected
    # idf scaling changes scores but keeps per-query ranking deterministic
    with_idf = col.sparse_query_batch(qdf, key="sv", n_results=3, idf=True)
    assert {r.query_id for r in with_idf.collect()} == {0, 1}

    # adaptive default: a batch over the threshold skips the vocabulary
    # collect (scans all buckets) yet returns identical results; the
    # threshold probe itself is a bounded limit() collect, not a full count
    auto_big = got(
        col.sparse_query_batch(qdf, key="sv", n_results=3, idf=False, prune_threshold=1)
    )
    assert auto_big == expected
    auto_small = got(
        col.sparse_query_batch(qdf, key="sv", n_results=3, idf=False, prune_threshold=1024)
    )
    assert auto_small == expected


def test_hybrid_query_batch_rrf_fusion(client):
    """Batch RRF agrees with hand-computed fusion of the two sides."""
    col = client.create_collection("hyb", dimension=2, space="l2")
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [0.7, 0.7]],
        metadatas=[
            {"sv": {"indices": [0], "values": [5.0]}},
            {"sv": {"indices": [0], "values": [1.0]}},
            {"sv": {"indices": [1], "values": [2.0]}},
        ],
    )
    spark = col._client.spark
    dq = spark.createDataFrame([(0, [1.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    sq = spark.createDataFrame(
        [(0, {"indices": [0], "values": [1.0]})],
        "query_id INT, sv STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    out = {r.id: r.score for r in col.hybrid_query_batch(
        dq, sq, key="sv", n_results=3, rrf_k=60, per_side_limit=10, idf=False
    ).collect()}
    # dense l2 ranks from [1,0]: a(0), c(~0.18), b(2) -> rank0 a=0 c=1 b=2
    # sparse dot: a=5 (rank0 0), b=1 (rank0 1); c missing -> default 10
    exp = {
        "a": -(1 / 60 + 1 / 60),
        "b": -(1 / 62 + 1 / 61),
        "c": -(1 / 61 + 1 / 70),
    }
    assert set(out) == set(exp)
    for k in exp:
        assert abs(out[k] - exp[k]) < 1e-9, (k, out[k], exp[k])
    # fusion order: a best; b (present in BOTH lists) beats c (dense-only)
    ordered = sorted(out, key=out.get)
    assert ordered == ["a", "b", "c"]


def test_dedup_index_lifecycle(client):
    """build_dedup_index -> find_near_duplicates gate -> incremental
    maintenance at compact (unchanged docs carry over by fingerprint) ->
    gc keeps only the referenced layout."""
    import os

    base_txt = "the quick brown fox jumps over the lazy dog one two "
    col = client.create_collection("dedup", dimension=2)
    fillers = [f"f{i}" for i in range(6)]
    col.add(
        ids=["a", "b", *fillers],
        embeddings=[[0.0, 1.0]] * 8,
        documents=[
            base_txt + "three",
            "entirely different words about spark plans here",
            *[f"unrelated filler document number {i} keeping the drift counter low" for i in range(6)],
        ],
    )
    desc = col.build_dedup_index(num_perm=16, bands=4, n=3)
    assert desc["version"] == col.version

    spark = col._client.spark
    batch = spark.createDataFrame(
        [("n1", base_txt + "four"), ("n2", "no overlap at all with anything else truly")],
        "id STRING, document STRING",
    )
    pairs = {(r.id_a, r.id_b) for r in col.find_near_duplicates(batch, threshold=0.5).collect()}
    assert ("a", "n1") in pairs and not any("n2" in p or "b" in p for p in pairs)

    # pin every band-table file before the incremental compaction: the
    # O(changed)-WRITES contract is that maintenance only APPENDS — files
    # already on disk stay byte-identical (path, size, mtime)
    def _file_states(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f == "_SUCCESS" or f.endswith(".crc"):
                    continue  # Spark job markers, rewritten by any append
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = _file_states(os.path.join(desc["path"], "bands"))

    # ingest + compact: maintenance refreshes the index to the new version
    col.add(ids=["c"], embeddings=[[1.0, 0.0]], documents=[base_txt + "five"])
    with pytest.raises(Exception, match="stale"):
        col.find_near_duplicates(batch)
    v2 = col.compact()
    desc2 = col._store.meta.indexes["dedup"]
    assert desc2["version"] == v2
    assert desc2["path"] == desc["path"]  # in-place append, no new layout dir
    after = _file_states(os.path.join(desc2["path"], "bands"))
    assert {p: after[p] for p in before} == before  # pre-existing files untouched
    assert set(after) > set(before)  # the changed doc's rows were appended
    live = layout.live(desc2, "bands")
    rows2 = {(r.id, r.band, r.bh) for r in live.drop("fp").collect()}
    b_old = spark.read.parquet(os.path.join(desc["path"], "bands")).filter("__epoch = %d" % desc["epoch"])
    rows1 = {(r.id, r.band, r.bh) for r in b_old.drop("fp", "__epoch").collect()}
    assert {t for t in rows2 if t[0] == "a"} == {t for t in rows1 if t[0] == "a"}
    assert {t[0] for t in rows2} == {"a", "b", "c", *fillers}
    pairs2 = {(r.id_a, r.id_b) for r in col.find_near_duplicates(batch, threshold=0.5).collect()}
    assert ("a", "n1") in pairs2 and ("c", "n1") in pairs2

    # update one doc: its old rows die by tombstone, others stay on disk
    col.update(ids=["b"], documents=["completely new content replacing b entirely now"])
    col.compact()
    desc3 = col._store.meta.indexes["dedup"]
    live3 = {(r.id, r.fp) for r in layout.live(desc3, "bands").select("id", "fp").distinct().collect()}
    assert {i for i, _ in live3} == {"a", "b", "c", *fillers}
    b_fp = {fp for i, fp in live3 if i == "b"}
    old_b_fp = {fp for i, fp in {(r.id, r.fp) for r in b_old.collect()} if i == "b"}
    assert b_fp and b_fp.isdisjoint(old_b_fp)  # b re-fingerprinted, old rows dead

    # gc keeps the (still-referenced) layout dir; the index keeps serving
    col.gc(keep_last=1, grace_seconds=0)
    idx_root = os.path.dirname(desc3["path"])
    assert os.path.isdir(desc3["path"]) and sorted(os.listdir(idx_root)) == ["v1"]
    assert col.find_near_duplicates(batch, threshold=0.5).count() >= 2


def test_client_utility_surface(spark, tmp_path):
    """BaseAPI utility parity: heartbeat, version, max batch size,
    count_collections, gated reset."""
    from chroma_spark.api import Client

    client = Client(spark, str(tmp_path / "util_root"))
    assert client.heartbeat() > 1_700_000_000 * 10**9
    assert isinstance(client.get_version(), str) and client.get_version()
    assert client.get_max_batch_size() >= 1
    client.create_collection("u1")
    client.create_collection("u2")
    assert client.count_collections() == 2
    with pytest.raises(Exception, match="disabled"):
        client.reset()
    assert client.count_collections() == 2  # nothing deleted
    client.allow_reset = True
    assert client.reset() is True
    assert client.count_collections() == 0 and client.list_collections() == []


def test_write_batch_cap_enforced(spark, tmp_path, monkeypatch):
    from chroma_spark.api import Client

    client = Client(spark, str(tmp_path / "cap_root"))
    col = client.create_collection("capped", dimension=2)
    monkeypatch.setattr(Client, "get_max_batch_size", lambda self: 2)
    with pytest.raises(Exception, match="exceeds get_max_batch_size"):
        col.add(ids=["a", "b", "c"], embeddings=[[0.0, 1.0]] * 3)
    col.add(ids=["a", "b"], embeddings=[[0.0, 1.0]] * 2)
    assert col.count() == 2


def test_admin_database_surface(spark, tmp_path):
    """AdminAPI parity: get_database raises-if-absent, list_* pagination,
    delete_database cascades its collections in one catalog commit."""
    from chroma_spark.api import Client
    from chroma_spark.sources.collection import CollectionError

    client = Client(spark, str(tmp_path / "admin_root"))
    client.create_database("d1")
    client.create_database("d2")
    assert client.get_database("d1")["name"] == "d1"
    with pytest.raises(CollectionError, match="does not exist"):
        client.get_database("ghost")
    dbs = client.list_databases()
    assert dbs == sorted(dbs) and {"d1", "d2"} <= set(dbs)
    assert client.list_databases(limit=1) == dbs[:1]
    assert client.list_databases(limit=2, offset=1) == dbs[1:3]

    d1 = Client(spark, str(tmp_path / "admin_root"), database="d1")
    for n in ("c1", "c2", "c3"):
        d1.create_collection(n)
    assert d1.list_collections() == ["c1", "c2", "c3"]
    assert d1.list_collections(limit=2) == ["c1", "c2"]
    assert d1.list_collections(limit=2, offset=2) == ["c3"]

    client.delete_database("d1")
    assert "d1" not in client.list_databases()
    # the cascade removed the scoped collections from the catalog
    assert not any(n.startswith(f"{client.tenant}/d1/") for n in client.catalog.list())
    with pytest.raises(CollectionError):
        client.delete_database("d1")


def test_filtered_index_query_boosts_nprobe(spark, tmp_path):
    """A selective filter with a small explicit nprobe must not lose the
    answer: selectivity-adaptive probe boosting scales the budget so
    filter-before-ANN keeps its candidates (adversarial layout: the
    allowed records live in lists far from the query)."""
    from chroma_spark.api import Client

    client = Client(spark, str(tmp_path / "store"))
    col = client.create_collection("fq", dimension=2, space="l2")
    # 4 tight clusters at the corners; label = cluster
    ids, embs, metas = [], [], []
    corners = {"a": (0.0, 0.0), "b": (10.0, 0.0), "c": (0.0, 10.0), "d": (10.0, 10.0)}
    for lab, (x, y) in corners.items():
        for i in range(8):
            ids.append(f"{lab}{i}")
            embs.append([x + i * 0.01, y + i * 0.01])
            metas.append({"lab": lab})
    col.add(ids=ids, embeddings=embs, metadatas=metas)
    col.build_vector_index(n_lists=4)

    # query sits ON cluster a, but the filter only allows cluster d:
    # nprobe=1 would probe a's list and find nothing without the boost
    res = col.query([[0.0, 0.0]], n_results=3, where={"lab": "d"}, nprobe=1)
    assert res["ids"][0] == ["d0", "d1", "d2"]
    # the boosted budget covers every list, so query() took the exact
    # scan; the index probe with the same budget finds the same answer
    from chroma_spark.plans import Filter

    ex = col._read()
    allowed = ex.filtered(Filter(where={"lab": "d"})).select("id")
    qdf = spark.createDataFrame([(0, [0.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    top = ex.ivf_top(qdf, 3, 1, allowed)
    assert [r.id for r in top.orderBy("rank").collect()] == ["d0", "d1", "d2"]


def test_semantic_near_duplicates_from_vector_index(client, spark):
    """SemDeDup served from the collection's own IVF layout: planted
    near-identical vectors land in one group with exactly one keeper;
    a pending WAL tail or a missing index raises."""
    import random

    col = client.create_collection("semdd", dimension=8)
    rnd = random.Random(5)
    ids = [f"d{i:02d}" for i in range(24)]
    embs = [[rnd.gauss(0, 1) for _ in range(8)] for _ in ids]
    # d21/d22 are near-copies of d20 (tiny perturbation)
    embs[21] = [v * 1.0005 + 1e-4 for v in embs[20]]
    embs[22] = [v * 0.9995 - 1e-4 for v in embs[20]]
    col.add(ids=ids, embeddings=embs)
    with pytest.raises(CollectionError, match="no vector index"):
        col.semantic_near_duplicates()
    col.build_vector_index(n_lists=2)
    rows = {r.id: r for r in col.semantic_near_duplicates(threshold=0.001).collect()}
    assert len(rows) == 24
    dup_group = {rows[i].group for i in ("d20", "d21", "d22")}
    assert len(dup_group) == 1
    keepers = [i for i in ("d20", "d21", "d22") if rows[i].keep]
    assert len(keepers) == 1
    assert all(rows[i].keep for i in rows if i not in ("d20", "d21", "d22"))
    # expr tier agrees end to end through the API path
    expr_rows = {r.id: r for r in col.semantic_near_duplicates(threshold=0.001, method="expr").collect()}
    assert {(r.id, r.group, r.keep) for r in rows.values()} == {
        (r.id, r.group, r.keep) for r in expr_rows.values()
    }
    col.add(ids=["zz"], embeddings=[[0.0] * 8])
    with pytest.raises(CollectionError, match="stale"):
        col.semantic_near_duplicates()


def test_persisted_tokenizer_lifecycle(client, spark, tmp_path):
    """build_tokenizer freezes a merge table in the collection config:
    token counts stay stable as the corpus grows, a cold re-open rebuilds
    the identical tokenizer, and WAL-tail docs are visible read-level
    aware before compaction."""
    from chroma_spark.api import Client

    col = client.create_collection("tok", dimension=2)
    with pytest.raises(CollectionError, match="no tokenizer"):
        col.token_counts()
    col.add(
        ids=["a", "b"],
        embeddings=[[0.0, 1.0], [1.0, 0.0]],
        documents=["the cat sat on the mat", "the cat cat"],
    )
    col.compact()
    desc = col.build_tokenizer(n_merges=8)
    # the trainer stops early once no pair repeats (tiny corpus)
    assert 1 <= len(desc["merges"]) <= 8
    before = {r.id: (r.n_words, r.n_bpe) for r in col.token_counts().collect()}
    assert set(before) == {"a", "b"} and before["a"][0] == 6

    # corpus grows; frozen merges don't move, new doc visible pre-compaction
    col.add(ids=["c"], embeddings=[[0.5, 0.5]], documents=["dog dog dog"])
    after = {r.id: (r.n_words, r.n_bpe) for r in col.token_counts().collect()}
    assert after["a"] == before["a"] and after["b"] == before["b"]
    assert after["c"][0] == 3
    assert col._store.meta.config["tokenizer"]["merges"] == desc["merges"]
    # index_only skips the WAL tail
    assert {r.id for r in col.token_counts(read_level="index_only").collect()} == {"a", "b"}

    # cold re-open: the persisted spec rebuilds the identical tokenizer
    client2 = Client(spark, client.catalog.root)
    col2 = client2.get_collection("tok")
    again = {r.id: (r.n_words, r.n_bpe) for r in col2.token_counts().collect()}
    assert again == after
    toks = {r.id: list(r.bpe_tokens) for r in col2.tokenize().collect()}
    assert sum(len(t) for t in toks.values()) == sum(n for _, n in after.values())


def test_copy_to_materialized_full_and_filtered(spark, tmp_path):
    client = Client(spark, str(tmp_path / "store"))
    col = client.create_collection(
        "src", dimension=2, space="cosine", metadata={"team": "data"}
    )
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        documents=["alpha doc", "beta doc", "gamma text"],
        metadatas=[{"k": 1}, {"k": 2}, {"k": 3}],
    )
    # full copy preserves records and config
    dst = col.copy_to("dst")
    assert dst.count() == 3
    row = dst.get(ids=["b"])[0]
    assert row["document"] == "beta doc" and row["k"] == 2
    res = dst.query(query_embeddings=[[0.1, 0.9]], n_results=1)
    assert res["ids"][0] == ["b"]  # space/dimension carried over
    # the copy is MATERIALIZED: writes to src do not leak into dst (and
    # vice versa), unlike fork's shared files
    col.add(ids=["d"], embeddings=[[0.5, 0.5]], documents=["delta"])
    dst.delete(ids=["a"])
    assert col.count() == 4 and dst.count() == 2
    # filtered subset copy
    sub = col.copy_to("sub", where={"k": {"$gte": 2}}, where_document={"$contains": "doc"})
    assert sorted(r["id"] for r in sub.get()) == ["b"]
    # empty result still creates the (empty) destination
    none = col.copy_to("none", where={"k": {"$gt": 99}})
    assert none.count() == 0 and "none" in client.list_collections()
    # index descriptors never travel: a copy at the source's index version
    # must not serve its document filters from the source's postings
    col.build_fts_index()
    fts_dst = col.copy_to("fts_dst")
    fts_dst.add(ids=["z"], embeddings=[[0.3, 0.7]], documents=["zebra quokka"])
    fts_dst.compact()
    assert [r["id"] for r in fts_dst.get(where_document={"$contains": "quokka"})] == ["z"]


def test_copy_to_across_clients(spark, tmp_path):
    src_client = Client(spark, str(tmp_path / "store_a"))
    dst_client = Client(spark, str(tmp_path / "store_b"))
    col = src_client.create_collection("src", dimension=2)
    col.add(ids=["x"], embeddings=[[1.0, 2.0]], documents=["cross-store"])
    moved = col.copy_to("moved", client=dst_client)
    assert moved.count() == 1
    assert "moved" in dst_client.list_collections()
    assert "moved" not in src_client.list_collections()
    assert dst_client.get_collection("moved").get(ids=["x"])[0]["document"] == "cross-store"


def test_client_vacuum_compacts_and_prunes(spark, tmp_path):
    client = Client(spark, str(tmp_path / "store"))
    a = client.create_collection("va", dimension=2)
    b = client.create_collection("vb", dimension=2)
    a.add(ids=["1"], embeddings=[[1.0, 0.0]], documents=["one"])
    a.compact()
    a.add(ids=["2"], embeddings=[[0.0, 1.0]], documents=["two"])
    b.add(ids=["9"], embeddings=[[1.0, 1.0]], documents=["nine"])
    pruned = client.vacuum(grace_seconds=0.0)
    assert set(pruned) == {"va", "vb"}
    # both collections fully compacted: WAL folded, reads intact
    assert a.count(read_level="index_only") == 2
    assert b.count(read_level="index_only") == 1
    # va's pre-vacuum base version (superseded twice) got pruned
    assert len(pruned["va"]) >= 1
    assert a.get(ids=["1"])[0]["document"] == "one"


def test_filtered_ann_selectivity_count_memoized(client, monkeypatch):
    """A query loop re-issuing the SAME filter prices the nprobe
    selectivity boost once: the allowed.count() job runs on the first call
    and is served from the memo of the read state (keyed by predicate; the
    state key carries version and log_position) after (VERDICT r6 item
    #7). A write or a different predicate re-counts."""
    import random

    col = client.create_collection("selcache", dimension=4)
    rnd = random.Random(3)
    ids = [f"r{i}" for i in range(120)]
    col.add(
        ids=ids,
        embeddings=[[rnd.uniform(-1, 1) for _ in range(4)] for _ in ids],
        metadatas=[{"grp": i % 3} for i in range(len(ids))],
    )
    col.compact()
    col.build_vector_index(n_lists=4)

    calls = {"n": 0}
    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.DataFrame is
    # the abstract parent; local sessions use the classic subclass)
    DFCls = type(client.spark.range(1))
    orig = DFCls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DFCls, "count", counting)

    q = [[0.1, 0.2, 0.3, 0.4]]
    col.query(q, n_results=3, where={"grp": 1}, nprobe=2)
    first = calls["n"]
    for _ in range(2):
        col.query(q, n_results=3, where={"grp": 1}, nprobe=2)
    per_repeat = (calls["n"] - first) / 2
    # exactly one count job saved per repeated query
    assert per_repeat == first - 1
    cache = col._read().view.selectivity
    assert len(cache) == 1 and list(cache.values())[0] == 40

    # a different predicate counts once more
    col.query(q, n_results=3, where={"grp": 2}, nprobe=2)
    assert len(cache) == 2

    # a write moves log_position: the stale entry no longer serves
    col.add(ids=["x1"], embeddings=[[0.0, 0.0, 0.0, 0.0]], metadatas=[{"grp": 1}])
    before = calls["n"]
    col.query(q, n_results=3, where={"grp": 1}, nprobe=2)
    fresh = col._read().view.selectivity
    assert fresh is not cache and len(fresh) == 1  # fresh memo for the new WAL position
    assert list(fresh.values())[0] == 41
    assert calls["n"] > before


def test_baseapi_tail_client_surface(client):
    """get_collection_by_id / fork_count / get_indexing_status — the
    BaseAPI tail (reference chromadb/api/__init__.py:619,892,901) on the
    engine client."""
    col = client.create_collection("tail", dimension=2)
    cid = col._store.meta.id
    assert client.get_collection_by_id(cid)._store.meta.id == cid
    import pytest as _p
    with _p.raises(Exception, match="does not exist"):
        client.get_collection_by_id("nope")

    # indexing status across the WAL -> compaction lifecycle
    st = col.get_indexing_status()
    assert st == {"num_indexed_ops": 0, "num_unindexed_ops": 0,
                  "total_ops": 0, "op_indexing_progress": 1.0}
    col.add(ids=["a", "b", "c"], embeddings=[[0.0, 1.0]] * 3)
    st = col.get_indexing_status()
    assert st["total_ops"] == 3 and st["num_unindexed_ops"] == 3
    assert st["op_indexing_progress"] == 0.0
    col.compact()
    st = col.get_indexing_status()
    assert st["num_unindexed_ops"] == 0 and st["num_indexed_ops"] == 3
    assert st["op_indexing_progress"] == 1.0
    col.add(ids=["d"], embeddings=[[1.0, 0.0]])
    assert col.get_indexing_status()["op_indexing_progress"] == 0.75

    # fork census is visible on both sides of the relation
    assert col.fork_count() == 0
    child = col.fork("tail_child")
    assert col.fork_count() == 1 and child.fork_count() == 1


# ---------------------------------------------------------------------------
# The one read executor: every public read lowers through api._Executor
# ---------------------------------------------------------------------------


def _rows(df):
    """A DataFrame's rows as sorted plain dicts (order-free comparison)."""
    return sorted(
        (r.asDict(recursive=True) for r in df.collect()),
        key=lambda r: sorted((k, repr(v)) for k, v in r.items()),
    )


def test_hybrid_query_batch_reads_one_catalog_state(client, monkeypatch):
    """Both sides of a hybrid batch lower over ONE catalog state: a write or
    compaction between two state reads would fuse two collection states."""
    from chroma_spark.sources.collection import Catalog

    col = client.create_collection("hyb1", dimension=2, space="l2")
    col.add(
        ids=["a", "b"],
        embeddings=[[1.0, 0.0], [0.0, 1.0]],
        metadatas=[{"sv": {"indices": [0], "values": [1.0]}}, {"sv": {"indices": [1], "values": [1.0]}}],
    )
    spark = col._client.spark
    dq = spark.createDataFrame([(0, [1.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    sq = spark.createDataFrame(
        [(0, {"indices": [0], "values": [1.0]})],
        "query_id INT, sv STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    gets = []
    real_get = Catalog.get

    def counting_get(self, name, *a, **kw):
        if name == col._store.name:
            gets.append(name)
        return real_get(self, name, *a, **kw)

    monkeypatch.setattr(Catalog, "get", counting_get)
    out = col.hybrid_query_batch(dq, sq, key="sv", n_results=2, per_side_limit=4, idf=False)
    assert len(gets) == 1, f"{len(gets)} catalog states read for one hybrid batch"
    assert {r.id for r in out.collect()} == {"a", "b"}


def test_query_batch_serves_where_document_from_fts_index(client):
    """query_batch(where_document=...) uses a fresh FTS index like every
    other read, and a WAL tail that adds and deletes matching documents
    gives the same answer with and without the index."""
    col = client.create_collection("qbfts", dimension=2, space="l2")
    col.add(
        ids=["a", "b", "c", "d"],
        embeddings=[[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.5, 0.5]],
        documents=["quick brown fox", "lazy dog", "quick red fox", "slow fox"],
    )
    col.build_fts_index(n_buckets=4)
    col.add(ids=["e"], embeddings=[[0.95, 0.05]], documents=["another quick fox"])
    col.delete(ids=["a"])
    wd = {"$contains": "quick"}
    assert col._read().fts_candidates(wd) is not None
    spark = col._client.spark
    qdf = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], "query_id INT, embedding ARRAY<FLOAT>")
    indexed = _rows(col.query_batch(qdf, n_results=3, where_document=wd))
    col._store.catalog.mutate(col._store.name, lambda m: m.indexes.clear())
    assert col._read().fts_candidates(wd) is None
    assert indexed == _rows(col.query_batch(qdf, n_results=3, where_document=wd))
    assert {r["id"] for r in indexed} == {"c", "e"}


def test_executor_index_lowerings_equal_exact_scans(spark, tmp_path, monkeypatch):
    """One view with a fresh exact (nprobe unset, unquantized) IVF index, a
    sparse index and an FTS index, plus a WAL tail holding an UPDATE, a
    DELETE and a pending predicate delete: every read entry point's
    index-served lowering equals its exact-scan lowering; each plan's
    ``execute`` equals its public call; a KNNPlan over quota is rejected
    exactly as ``query`` rejects it, before the executor runs."""
    import random

    from chroma_spark.operators.rank import rrf
    from chroma_spark.plans import CountPlan, Filter, GetPlan, KNNPlan, Limit, Search
    from chroma_spark.quota import QuotaExceededError, StaticQuotaEnforcer, UsageType

    client = Client(
        spark, str(tmp_path / "store"),
        quota_enforcer=StaticQuotaEnforcer(limits={UsageType.LIMIT_VALUE: 100}),
    )
    col = client.create_collection("par", dimension=4, space="l2")
    rnd = random.Random(11)
    ids = [f"p{i:02d}" for i in range(24)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    words = ["quick fox", "lazy dog", "brown bear"]
    col.add(
        ids=ids,
        embeddings=embs,
        documents=[f"{words[i % 3]} number {i}" for i in range(24)],
        metadatas=[
            {"grp": i % 2, "sv": {"indices": [i % 5, 5 + i % 4], "values": [1.0, 0.5 + i / 100]}}
            for i in range(24)
        ],
    )
    col.build_vector_index(n_lists=3)
    col.build_sparse_index("sv", n_buckets=4)
    col.build_fts_index(n_buckets=4)
    col.update(
        ids=["p03"], embeddings=[[0.5, 0.5, 0.5, 0.5]], documents=["quick fox moved"],
        metadatas=[{"grp": 0, "sv": {"indices": [1, 6], "values": [2.0, 1.0]}}],
    )
    col.delete(ids=["p06"])
    col.delete(where={"grp": 1}, where_document={"$contains": "bear"})  # p05, p11, p17, p23

    q = [embs[4], embs[9]]
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(q)], "query_id INT, embedding ARRAY<FLOAT>"
    )
    sq = spark.createDataFrame(
        [(0, {"indices": [1, 6], "values": [1.0, 1.0]}), (1, {"indices": [0, 3], "values": [1.0, 2.0]})],
        "query_id INT, sv STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
    )
    wd = {"$contains": "fox"}
    every = ["distances", "documents", "metadatas", "embeddings"]
    rank = rrf([
        {"query": q[0], "limit": 8, "default": 8},
        {"query": {"indices": [1, 6], "values": [1.0, 1.0]}, "key": "sv", "limit": 8,
         "default": 8, "idf": False},
    ])

    def read_all(tag: str) -> dict:
        out_dir = str(tmp_path / f"export_{tag}")
        col.export_files(out_dir, where={"grp": 0}, where_document=wd, include=["documents"])
        exported = _rows(spark.read.json(out_dir))
        dst = col.copy_to(f"copy_{tag}", where={"grp": 0}, where_document=wd)
        return {
            "count": col.count(),
            "get": col.get(where_document=wd, include=["documents", "metadatas", "embeddings"]),
            "query": col.query(q, n_results=5, include=every),
            "query_filtered": col.query(q, n_results=5, where={"grp": 0}, where_document=wd, include=every),
            "query_batch": _rows(col.query_batch(qdf, n_results=5)),
            "query_batch_filtered": _rows(col.query_batch(qdf, n_results=4, where_document=wd)),
            "sparse": _rows(col.sparse_query_batch(sq, key="sv", n_results=5, idf=False)),
            "hybrid": _rows(col.hybrid_query_batch(qdf, sq, key="sv", n_results=5, per_side_limit=8, idf=False)),
            "search": _rows(col.search(
                where_document=wd, rank=rank, limit=5, select=["#id", "#score", "#document"]
            )),
            "export": exported,
            "copy_to": dst.get(include=["documents", "metadatas", "embeddings"]),
        }

    ex = col._read()
    assert ex.view.touched is not None and ex.view.where_ops
    assert ex.ivf_top(qdf, 3, None, None) is not None
    assert set(ex.sparse_indexes({"sv"})) == {"sv"}
    assert ex.fts_candidates(wd) is not None
    indexed = read_all("indexed")
    assert indexed["count"] == 23 - 4
    assert {r["id"] for r in indexed["get"]} & {"p05", "p06", "p11"} == set()
    assert "p03" in {r["id"] for r in indexed["get"]}

    # every plan kind: plan.execute(col) is the public call
    get_plan = GetPlan(filter=Filter(where={"grp": 0}, where_document=wd), limit=Limit(offset=1, limit=3))
    assert get_plan.execute(col) == col.get(where={"grp": 0}, where_document=wd, offset=1, limit=3)
    assert CountPlan().execute(col) == col.count()
    knn_plan = KNNPlan(embeddings=q, fetch=4, filter=Filter(where_document=wd))
    assert knn_plan.execute(col) == col.query(q, n_results=4, where_document=wd)
    search_plan = Search(where_document=wd, rank=rank, limit=Limit(limit=4), select=["#id", "#score"])
    assert _rows(search_plan.execute(col)) == _rows(
        col.search(where_document=wd, rank=rank, limit=4, select=["#id", "#score"])
    )

    # quota: the plan is rejected by the public method's admission check,
    # with query's own error, and never reaches the executor
    with pytest.raises(QuotaExceededError) as by_query:
        col.query(q, n_results=500)
    reads = []
    real_read = type(col)._read
    monkeypatch.setattr(
        type(col), "_read", lambda self, *a, **kw: reads.append(1) or real_read(self, *a, **kw)
    )
    with pytest.raises(QuotaExceededError) as by_plan:
        KNNPlan(embeddings=q, fetch=500).execute(col)
    monkeypatch.undo()
    assert str(by_plan.value) == str(by_query.value) and reads == []

    # the same view with no index: every entry point takes the exact scan
    col._store.catalog.mutate(col._store.name, lambda m: m.indexes.clear())
    ex = col._read()
    assert ex.ivf_top(qdf, 3, None, None) is None
    assert ex.sparse_indexes({"sv"}) == {} and ex.fts_candidates(wd) is None
    exact = read_all("exact")
    for name in indexed:
        assert indexed[name] == exact[name], name


def _calls_in(fn) -> set[str]:
    """Names called (``f(...)`` or ``x.f(...)``) anywhere in a function."""
    import ast

    return {
        n.func.attr if isinstance(n.func, ast.Attribute) else n.func.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, (ast.Attribute, ast.Name))
    }


def test_reads_lower_only_through_the_executor():
    """One mechanism per read stage: no read entry point filters, picks an
    index or ranks by itself — each resolves one view through
    ``Collection._read`` and hands its plan to the executor, whose stages
    alone call the filter compilers, the FTS lookup and the KNN
    operators."""
    import ast

    import chroma_spark.api as api

    with open(api.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    classes = {n.name: n for n in tree.body if isinstance(n, ast.ClassDef)}
    methods = {
        n.name: n for n in classes["Collection"].body if isinstance(n, ast.FunctionDef)
    }
    entry_points = [
        "get", "count", "query", "search", "query_batch", "sparse_query_batch",
        "hybrid_query_batch", "export_files", "copy_to",
    ]
    stage_only = {
        "where_to_column", "where_doc_to_column", "filter_records", "fts_candidates",
        "_fts_candidates", "exact_knn", "knn_merge", "ivf_search", "search_op",
    }
    for name in entry_points:
        calls = _calls_in(methods[name])
        assert not calls & stage_only, f"Collection.{name} calls {sorted(calls & stage_only)}"
        assert "_read" in calls, f"Collection.{name} does not resolve its view via _read"
    # outside the executor, only predicate-delete matching and compaction
    # compile filters themselves
    for cls_name, cls in classes.items():
        for fn in (n for n in cls.body if isinstance(n, ast.FunctionDef)):
            if cls_name in ("_Executor", "_ReadView"):
                continue
            stray = _calls_in(fn) & stage_only
            assert not stray or fn.name == "_predicate_matched_ids", (
                f"{cls_name}.{fn.name} calls {sorted(stray)}"
            )


# ---------------------------------------------------------------------------
# The physical choice and the resident read state
# ---------------------------------------------------------------------------


def _plans_of_knn(monkeypatch) -> list[str]:
    """Optimized plans of every frame ``_Executor.knn`` returns from now on."""
    from chroma_spark.api import _Executor

    plans: list[str] = []
    real = _Executor.knn

    def spy(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out

    monkeypatch.setattr(_Executor, "knn", spy)
    return plans


def test_whole_list_probe_lowers_to_the_flat_scan(client, monkeypatch):
    """query() on a fresh unquantized index without nprobe takes the exact
    scan (no centroid join); nprobe below the list count, or a quantized
    index, keeps the index path."""
    import random

    rnd = random.Random(21)
    ids = [f"r{i}" for i in range(40)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    flat = client.create_collection("phys_flat", dimension=4, space="l2")
    flat.add(ids=ids, embeddings=embs)
    flat.build_vector_index(n_lists=4)
    coded = client.create_collection("phys_sign", dimension=4, space="l2")
    coded.add(ids=ids, embeddings=embs)
    coded.build_vector_index(n_lists=4, quantized="sign")
    plans = _plans_of_knn(monkeypatch)

    whole = flat.query([embs[3]], n_results=3)
    assert "centroid_id" not in plans[-1]
    partial = flat.query([embs[3]], n_results=3, nprobe=2)
    assert "centroid_id" in plans[-1]
    coded.query([embs[3]], n_results=3)
    assert "centroid_id" in plans[-1]
    assert whole["ids"][0][0] == partial["ids"][0][0] == "r3"


def test_flat_scan_and_index_probe_agree_on_one_view(client, monkeypatch):
    """On one view whose WAL tail holds an UPDATE, a DELETE and a pending
    predicate delete, the flat scan and the whole-list index probe return
    the same ids, distances and hydrated fields, filtered or not."""
    import random

    from chroma_spark.api import _Executor
    from chroma_spark.plans import Filter, KNNPlan

    col = client.create_collection("flatpar", dimension=4, space="l2")
    rnd = random.Random(13)
    ids = [f"p{i:02d}" for i in range(30)]
    embs = [[rnd.random() for _ in range(4)] for _ in ids]
    col.add(
        ids=ids, embeddings=embs, documents=[f"doc {i}" for i in range(30)],
        metadatas=[{"grp": i % 3, "n": i} for i in range(30)],
    )
    col.build_vector_index(n_lists=3)
    col.update(ids=["p04"], embeddings=[[0.5, 0.5, 0.5, 0.5]], documents=["moved"],
               metadatas=[{"grp": 0, "n": 99}])
    col.delete(ids=["p09"])
    col.delete(where={"grp": 2})
    ex = col._read()
    assert ex.view.touched is not None and ex.view.where_ops
    qdf = client.spark.createDataFrame(
        [(0, embs[4]), (1, embs[9])], "query_id INT, embedding ARRAY<FLOAT>"
    )
    every = ("distances", "documents", "metadatas", "embeddings")
    plans = [
        KNNPlan(fetch=6, include=every),
        KNNPlan(fetch=4, filter=Filter(where={"grp": 0}), include=every),
    ]
    flat = [_rows(ex.knn(p, qdf, None)) for p in plans]
    monkeypatch.setattr(_Executor, "_scan_serves", staticmethod(lambda vi, probes: False))
    indexed = [_rows(ex.knn(p, qdf, None)) for p in plans]
    assert flat == indexed
    got = {r["id"] for r in flat[0]}
    assert "p09" not in got and not any(r.get("grp") == 2 for r in flat[0])
    assert {r["document"] for r in flat[0] if r["id"] == "p04"} <= {"moved"}


def test_views_of_different_collections_do_not_wait_on_each_other(client, monkeypatch):
    """Each view builds its frames under its own lock: a read of one
    collection completes while another collection's base resolution is
    blocked."""
    import threading

    from chroma_spark.sources.collection import CollectionStore

    a = client.create_collection("lock_a", dimension=2)
    a.add(ids=["a1"], embeddings=[[1.0, 0.0]])
    b = client.create_collection("lock_b", dimension=2)
    b.add(ids=["b1", "b2"], embeddings=[[0.0, 1.0], [1.0, 1.0]])
    a.compact()
    b.compact()
    entered, release = threading.Event(), threading.Event()
    read_base = CollectionStore.read_base

    def blocking(store, meta):
        if store.name == a._store.name:
            entered.set()
            release.wait(120)
        return read_base(store, meta)

    monkeypatch.setattr(CollectionStore, "read_base", blocking)
    counts: dict = {}
    ta = threading.Thread(target=lambda: counts.setdefault("a", a.count()))
    tb = threading.Thread(target=lambda: counts.setdefault("b", b.count()))
    ta.start()
    try:
        assert entered.wait(60)
        tb.start()
        tb.join(30)
        b_done = not tb.is_alive()
    finally:
        release.set()
    ta.join(60)
    tb.join(60)
    assert b_done, "a read of another collection waited on a blocked view"
    assert not ta.is_alive() and not tb.is_alive()
    assert counts == {"a": 1, "b": 2}


def test_concurrent_first_reads_of_a_state_share_one_view(client, monkeypatch):
    """More readers than cores, with a short switch interval, resolve one
    state at once: they share one view, which reads the WAL tail once."""
    import sys
    import threading
    import time

    from chroma_spark.sources.collection import CollectionStore

    col = _mk(client, "shared_view")
    log_reads = []
    read_log = CollectionStore.read_log

    def slow_read_log(store, meta):
        log_reads.append(1)
        time.sleep(0.5)
        return read_log(store, meta)

    monkeypatch.setattr(CollectionStore, "read_log", slow_read_log)
    views, counts = [], []

    def read():
        ex = col._read()
        views.append(ex.view)
        counts.append(ex.count())

    threads = [threading.Thread(target=read) for _ in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert counts == [3] * 6
    assert len(log_reads) == 1 and all(v is views[0] for v in views)
    assert views[0].resident


def test_resident_state_never_serves_a_newer_state(client):
    """An add, an update and a delete each commit a new state: the next
    read resolves a new view and the old one's records are released."""
    col = _mk(client, "res_change")
    first = col._read().view
    assert col.count() == 3 and col._read().view is first and first.resident
    assert first.records.is_cached

    col.add(ids=["d"], embeddings=[[0.0, 0.0, 0.0, 1.0]])
    assert col.count() == 4
    second = col._read().view
    assert second is not first and not first.resident and not first.records.is_cached

    col.update(ids=["a"], embeddings=[[0.0, 0.0, 0.0, 2.0]])
    assert col.query([[0.0, 0.0, 0.0, 2.0]], n_results=1)["ids"][0] == ["a"]
    assert col._read().view is not second

    col.delete(ids=["b"])
    assert sorted(r["id"] for r in col.get(include=[])) == ["a", "c", "d"]
    assert col.count() == 3


def test_residency_is_bounded_and_released(client, spark):
    """Only the newest state of the last RESIDENT_COLLECTIONS collections
    stays persisted, however many states a collection goes through;
    delete_collection and reset release their entries."""
    from chroma_spark import api

    spark.catalog.clearCache()  # frames persisted by earlier tests
    jsc = spark.sparkContext._jsc
    root = client.catalog.root
    cap = api.RESIDENT_COLLECTIONS
    cols = []
    for i in range(cap + 2):
        c = client.create_collection(f"cap{i}", dimension=2)
        c.add(ids=[f"x{i}"], embeddings=[[float(i), 1.0]])
        assert c.count() == 1
        cols.append(c)
    assert jsc.getPersistentRDDs().size() <= cap
    col = cols[-1]
    for j in range(20):
        col.add(ids=[f"y{j}"], embeddings=[[float(j), 2.0]])
        assert col.query([[float(j), 2.0]], n_results=1)["ids"][0] == [f"y{j}"]
    assert jsc.getPersistentRDDs().size() <= cap

    def resident_ids():
        return {s[1] for s in api._resident if s[0] == root}

    gone = col._store.meta.id
    assert gone in resident_ids()
    client.delete_collection(col.name)
    assert gone not in resident_ids()
    client.allow_reset = True
    client.reset()
    assert resident_ids() == set()
    assert jsc.getPersistentRDDs().size() == 0
