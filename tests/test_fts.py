"""Trigram FTS posting index tier: index-served $contains/$regex with
exact-verify, WAL-tail soundness, O(changed) maintenance, gc awareness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chroma_spark.api import Client


@pytest.fixture()
def client(spark, tmp_path):
    return Client(spark, str(tmp_path / "store"))


DOCS = {
    "a": "the quick brown fox jumps over the lazy dog",
    "b": "pack my box with five dozen liquor jugs",
    "c": "sphinx of black quartz judge my vow",
    "d": "a quick brown cat naps quietly",
    "e": "xy",  # too short to have trigrams
    "k1": "grumpy wizards make toxic brew for the evil queen",
    "k2": "jackdaws love my big quartz sphinx statue",
    "k3": "how vexingly daft zebras jump around",
    "k4": "bright vixens watch as jocks nymph waltz",
    "k5": "five quacking zephyrs jolt my wax bed",
}


def _mk(client, name="fts1"):
    col = client.create_collection(name, dimension=2)
    ids = sorted(DOCS)
    col.add(
        ids=ids,
        embeddings=[[float(i), 0.0] for i in range(len(ids))],
        documents=[DOCS[i] for i in ids],
    )
    return col


def _ids(col, wd):
    return sorted(r["id"] for r in col.get(where_document=wd, include=[]))


def test_fts_index_serves_contains_and_regex(client):
    col = _mk(client)
    cases = [
        {"$contains": "quick brown"},
        {"$contains": "box"},
        {"$contains": "walrus"},
        {"$and": [{"$contains": "quick"}, {"$contains": "brown"}]},
        {"$regex": "qui.k brown"},
        {"$or": [{"$contains": "sphinx"}, {"$contains": "liquor"}]},  # fallback
        {"$not_contains": "quick"},  # fallback
        {"$contains": "xy"},  # sub-trigram needle: fallback
    ]
    before = [_ids(col, wd) for wd in cases]
    col.build_fts_index()
    assert col._store.meta.indexes["fts"]["n_docs"] == len(DOCS)
    after = [_ids(col, wd) for wd in cases]
    assert before == after
    # sanity on actual semantics
    assert _ids(col, {"$contains": "quick brown"}) == ["a", "d"]
    assert _ids(col, {"$contains": "walrus"}) == []


def test_fts_candidates_prune_scan_and_are_sound(client, spark):
    col = _mk(client, "fts2")
    col.build_fts_index()
    cands = col._read().fts_candidates({"$contains": "quick brown"})
    assert sorted(r.id for r in cands.collect()) == ["a", "d"]
    # the posting scan must reach parquet with bucket partition filters
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # unusable trees return None (no index consultation at all)
    assert col._read().fts_candidates({"$not_contains": "quick"}) is None
    assert col._read().fts_candidates({"$or": [{"$contains": "abc"}]}) is None


def test_fts_wal_tail_reads_stay_exact(client):
    """Writes after the index build (uncompacted WAL tail) must be
    visible: touched ids union into the candidate set for re-check."""
    col = _mk(client, "fts3")
    col.build_fts_index()
    col.add(ids=["f"], embeddings=[[9.0, 0.0]], documents=["a brand new quick entry"])
    col.update(ids=["a"], documents=["rewritten without the magic words"])
    assert _ids(col, {"$contains": "quick"}) == ["d", "f"]
    col.delete(ids=["d"])
    assert _ids(col, {"$contains": "quick"}) == ["f"]


def test_fts_maintenance_is_o_changed_and_exact(client):
    col = _mk(client, "fts4")
    col.build_fts_index()
    path = col._store.meta.indexes["fts"]["path"]

    def _files():
        out = {}
        for root, _, fs in os.walk(os.path.join(path, "postings")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = _files()
    col.add(ids=["g"], embeddings=[[8.0, 0.0]], documents=["gnu quick gnu"])
    col.update(ids=["b"], documents=["crate swapped for the container contents"])
    col.compact()
    desc = col._store.meta.indexes["fts"]
    assert desc["version"] == col.version and desc["n_appended"] >= 2
    after = _files()
    for p, sig in before.items():
        assert after[p] == sig, f"pre-existing posting file rewritten: {p}"
    # post-maintenance, index-served results are exact
    assert _ids(col, {"$contains": "quick"}) == ["a", "d", "g"]
    assert _ids(col, {"$contains": "box"}) == []
    assert _ids(col, {"$contains": "crate"}) == ["b"]


def test_fts_survives_cold_reopen_and_gc(client, spark, tmp_path):
    from chroma_spark.api import Client

    root = client.catalog.root
    col = _mk(client, "fts5")
    col.build_fts_index()
    col.add(ids=["h"], embeddings=[[7.0, 0.0]], documents=["wholly quick addendum"])
    col.compact()
    col.gc(keep_last=1, grace_seconds=0)
    col2 = Client(spark, root).get_collection("fts5")
    assert sorted(
        r["id"] for r in col2.get(where_document={"$contains": "quick"}, include=[])
    ) == ["a", "d", "h"]
    # the live layout survived gc
    assert os.path.isdir(col2._store.meta.indexes["fts"]["path"])


def test_fts_rebuild_after_drift(client):
    """Touching more than REINDEX_FRACTION of docs triggers a fresh
    layout build instead of unbounded tombstone debt."""
    col = _mk(client, "fts6")
    col.build_fts_index()
    old_path = col._store.meta.indexes["fts"]["path"]
    for i in sorted(DOCS):
        col.update(ids=[i], documents=[f"completely regenerated text number {i} quick"])
    col.compact()
    desc = col._store.meta.indexes["fts"]
    assert desc["path"] != old_path  # rebuilt into a fresh layout dir
    assert desc["n_appended"] == 0
    assert _ids(col, {"$contains": "regenerated"}) == sorted(DOCS)


def test_fts_serves_search_document_filter(client):
    """search() document filters get the same index-served prefilter; the
    ranked pipeline's results (and IDF stats, computed over the UNFILTERED
    corpus) are unchanged by the index."""
    col = _mk(client, "fts7")
    payload = {
        "where_document": {"$contains": "quick"},
        "rank": {"$knn": {"query": [0.0, 0.0], "key": "#embedding"}},
        "limit": 5,
    }
    before = [(r["id"], round(r["score"], 6)) for r in col.search(**payload).collect()]
    col.build_fts_index()
    after = [(r["id"], round(r["score"], 6)) for r in col.search(**payload).collect()]
    assert before == after and [i for i, _ in after] == ["a", "d"]
    # unranked search with the filter too
    ids = sorted(r["id"] for r in col.search(where_document={"$contains": "sphinx"}).collect())
    assert ids == ["c", "k2"]
