"""Cross-version persistence: catalog + index-layout format stamps.

The analog of the reference's upgrade-compat property suite
(``chromadb/test/property/test_cross_version_persist.py``): persisted
state written by one engine build must either open-and-migrate in a later
build or refuse cleanly — never be silently misread. Covers the catalog
JSON (``__format__`` stamp, v0 and v2 migrations) and the IVF / sparse layout
stamps (``_layout.json``)."""

from __future__ import annotations

import json
import os

import pytest

from chroma_spark.api import Client
from chroma_spark.layout import LayoutFormatError
from chroma_spark.sources.collection import CollectionError


def _mk_store(spark, root):
    client = Client(spark, root)
    col = client.create_collection("pc", dimension=2)
    col.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]],
        documents=["alpha", "beta", "gamma"],
        metadatas=[{"sv": {"indices": [1], "values": [2.0]}}] * 3,
    )
    col.build_vector_index(n_lists=1)
    col.build_sparse_index("sv", n_buckets=4)
    return client, col


def _latest_commit_path(root):
    d = os.path.join(root, "_commits")
    gens = sorted(n for n in os.listdir(d) if n.endswith(".json"))
    return os.path.join(d, gens[-1])


def _to_legacy(root, flat_collections, version):
    """Rewrite the root as a store an OLD (v<=1, pre-commit-log) engine
    build would have left behind: single catalog.json, no _commits."""
    import shutil

    shutil.rmtree(os.path.join(root, "_commits"))
    data = dict(flat_collections)
    if version is not None:
        data["__format__"] = {"version": version}
    json.dump(data, open(os.path.join(root, "catalog.json"), "w"))


def test_reopen_current_format_round_trips(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    # a later process opens the same root cold
    col = Client(spark, root).get_collection("pc")
    assert col.count() == 3
    assert col.query([[1.0, 0.0]], n_results=1)["ids"][0] == ["a"]
    # both the commit head and the checkpoint carry the current stamp, so
    # an OLDER engine build (reads <= v2) refuses instead of misreading
    assert json.load(open(_latest_commit_path(root)))["__format__"]["version"] == 3
    catalog = json.load(open(os.path.join(root, "catalog.json")))
    assert catalog["__format__"]["version"] == 3


def test_newer_catalog_format_refuses_cleanly(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    p = _latest_commit_path(root)
    data = json.load(open(p))
    data["__format__"] = {"version": 99}
    json.dump(data, open(p, "w"))
    with pytest.raises(CollectionError, match="newer engine"):
        Client(spark, root).get_collection("pc")


def test_newer_legacy_catalog_refuses_cleanly(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    colls = json.load(open(_latest_commit_path(root)))["collections"]
    _to_legacy(root, colls, version=99)
    with pytest.raises(CollectionError, match="newer engine"):
        Client(spark, root).get_collection("pc")


def test_v0_catalog_migrates_unknown_meta_fields(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    colls = json.load(open(_latest_commit_path(root)))["collections"]
    for meta in colls.values():
        meta["experimental_field_from_old_build"] = {"x": 1}
    _to_legacy(root, colls, version=0)
    col = Client(spark, root).get_collection("pc")  # migrates, no crash
    assert col.count() == 3


def test_unstamped_catalog_is_pre_versioning_and_opens(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    colls = json.load(open(_latest_commit_path(root)))["collections"]
    _to_legacy(root, colls, version=None)
    assert Client(spark, root).get_collection("pc").count() == 3


def test_stale_format_without_migration_refuses(spark, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, root)
    colls = json.load(open(_latest_commit_path(root)))["collections"]
    _to_legacy(root, colls, version=-1)
    with pytest.raises(CollectionError, match="no migration path"):
        Client(spark, root).get_collection("pc")


@pytest.mark.parametrize("kind", ["ivf", "sparse"])
def test_newer_index_layout_refuses_cleanly(spark, tmp_path, kind):
    root = str(tmp_path / "store")
    client, col = _mk_store(spark, root)
    meta = col._store.meta
    layout_dir = meta.indexes["vector" if kind == "ivf" else "sparse:sv"]["path"]
    stamp_path = os.path.join(layout_dir, "_layout.json")
    stamp = json.load(open(stamp_path))
    assert stamp == {"format_version": 1, "kind": kind}
    json.dump({"format_version": 99, "kind": kind}, open(stamp_path, "w"))
    with pytest.raises(LayoutFormatError, match="newer engine"):
        if kind == "ivf":
            col.query([[1.0, 0.0]], n_results=1)
        else:
            col.search(rank={"$knn": {"query": {"indices": [1], "values": [1.0]}, "key": "sv"}})


def test_unstamped_index_layout_is_pre_versioning_and_reads(spark, tmp_path):
    root = str(tmp_path / "store")
    client, col = _mk_store(spark, root)
    os.remove(os.path.join(col._store.meta.indexes["vector"]["path"], "_layout.json"))
    assert col.query([[1.0, 0.0]], n_results=1)["ids"][0] == ["a"]
    # query() serves a whole-list probe from the exact scan: read the
    # unstamped layout itself through the index path
    qdf = spark.createDataFrame([(0, [1.0, 0.0])], "query_id INT, embedding ARRAY<FLOAT>")
    top = col._read().ivf_top(qdf, 1, None, None)
    assert [r.id for r in top.collect()] == ["a"]


def test_wrong_layout_kind_refuses(spark, tmp_path):
    root = str(tmp_path / "store")
    client, col = _mk_store(spark, root)
    stamp_path = os.path.join(col._store.meta.indexes["vector"]["path"], "_layout.json")
    json.dump({"format_version": 1, "kind": "sparse"}, open(stamp_path, "w"))
    with pytest.raises(LayoutFormatError, match="expected 'ivf'"):
        col.query([[1.0, 0.0]], n_results=1)


def test_newer_dedup_layout_refuses_cleanly(spark, tmp_path):
    root = str(tmp_path / "store")
    client, col = _mk_store(spark, root)
    col.build_dedup_index(num_perm=8, bands=2)
    layout_dir = col._store.meta.indexes["dedup"]["path"]
    stamp_path = os.path.join(layout_dir, "_layout.json")
    assert json.load(open(stamp_path)) == {"format_version": 2, "kind": "dedup"}
    json.dump({"format_version": 99, "kind": "dedup"}, open(stamp_path, "w"))
    batch = spark.createDataFrame([("n1", "alpha beta gamma")], "id STRING, document STRING")
    with pytest.raises(LayoutFormatError, match="newer engine"):
        col.find_near_duplicates(batch)


def _to_v2(root):
    """Rewrite the commit head the way a v2 engine stored engine state:
    index descriptors in ``vector_index`` / ``sparse_indexes`` /
    ``__dedup_index__`` / ``__fts_index__`` and the embedding-function
    config as a ``__``-prefixed user-metadata key."""
    p = _latest_commit_path(root)
    data = json.load(open(p))
    for meta in data["collections"].values():
        idx = {
            name: {k: v for k, v in desc.items() if k not in ("kind", "quantized")}
            for name, desc in meta.pop("indexes").items()
        }
        vi = idx.pop("vector", None)
        if vi is not None:
            vi["n_rows"] = vi.pop("n_docs")
        meta["vector_index"] = vi
        meta["sparse_indexes"] = {
            name.split(":", 1)[1]: desc for name, desc in idx.items() if name.startswith("sparse:")
        }
        for name in ("dedup", "fts"):
            if name in idx:
                meta["metadata"][f"__{name}_index__"] = idx[name]
        for key, cfg in meta.pop("config").items():
            meta["metadata"][f"__{key}__"] = cfg
    data["__format__"] = {"version": 2}
    json.dump(data, open(p, "w"))


def test_v2_catalog_migrates_engine_state_to_typed_fields(spark, tmp_path):
    root = str(tmp_path / "store")
    col = Client(spark, root).create_collection(
        "pc", embedding_function="hashing", embedding_function_kwargs={"dim": 8},
        metadata={"team": "data"},
    )
    docs = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "completely different words here",
        "yet another unrelated sentence",
    ]
    col.add(
        ids=["a", "b", "c", "d"],
        documents=docs,
        metadatas=[{"sv": {"indices": [i % 2, 2], "values": [1.0, float(i)]}} for i in range(4)],
    )
    col.build_vector_index(n_lists=1)
    col.build_sparse_index("sv", n_buckets=4)
    col.build_dedup_index(num_perm=8, bands=2)
    col.build_fts_index()
    batch = spark.createDataFrame([("n1", "alpha beta gamma delta eta")], "id STRING, document STRING")
    rank = {"$knn": {"query": {"indices": [0], "values": [1.0]}, "key": "sv", "limit": 3}}

    def _results(c):
        return (
            c.query(query_texts=["alpha beta"], n_results=3)["ids"],
            [r["id"] for r in c.search(rank=rank, select=["#id"]).collect()],
            sorted(r["id"] for r in c.get(where_document={"$contains": "alpha"})),
            sorted((r.id_a, r.id_b) for r in c.find_near_duplicates(batch, threshold=0.3).collect()),
        )

    before = _results(col)
    _to_v2(root)
    migrated = Client(spark, root).get_collection("pc")
    meta = migrated._store.meta
    assert meta.metadata == {"team": "data"}
    assert set(meta.indexes) == {"vector", "sparse:sv", "dedup", "fts"}
    assert meta.indexes["vector"]["n_docs"] == 4 and meta.indexes["vector"]["quantized"] is False
    assert set(meta.config) == {"embedding_function"}
    assert _results(migrated) == before
    # query() serves a whole-list probe from the exact scan: the migrated
    # vector descriptor still serves through the index path
    qvec = [float(x) for x in migrated._embedding_function(meta)(["alpha beta"])[0]]
    qdf = spark.createDataFrame([(0, qvec)], "query_id INT, embedding ARRAY<FLOAT>")
    top = migrated._read().ivf_top(qdf, 3, None, None)
    assert [r.id for r in top.orderBy("rank").collect()] == before[0][0]
    # the migrated descriptors keep being maintained by compaction
    migrated.add(ids=["e"], documents=["alpha beta gamma delta theta"],
                 metadatas=[{"sv": {"indices": [0], "values": [9.0]}}])
    migrated.compact()
    meta = migrated._store.meta
    assert all(d["version"] == meta.version and d["n_appended"] == 1 for d in meta.indexes.values())
    assert [r["id"] for r in migrated.search(rank=rank, select=["#id"]).collect()][0] == "e"
