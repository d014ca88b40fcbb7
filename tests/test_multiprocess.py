"""Multi-process catalog/WAL commit protocol (the sysdb/wal3 CAS analog).

The round-5 gap: a JSON catalog with process-local CAS loses updates when
two OS processes write one collection. These tests spawn REAL processes
(separate Python interpreters, separate JVMs for the Spark ones) against a
shared storage root and assert no lost writes, unique WAL seq ranges, and
a linearizable commit history — the contract of the reference's sysdb
transactional version update (``go/pkg/sysdb/coordinator/``) and wal3's
manifest CAS (``rust/wal3/README.md:33-37``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "tests", "mp_worker.py")


@pytest.fixture(params=["link", "objectstore"])
def commit_backend_env(request, monkeypatch):
    """Run a soak against both commit backends: the hard-link filesystem
    CAS and the emulated object store (conditional PUT / If-None-Match —
    wal3's S3 manifest CAS shape). The env var flows to the spawned worker
    processes through ``_spawn``'s inherited environment, so every process
    (parent + both JVMs) commits through the same backend."""
    if request.param == "objectstore":
        from chroma_spark.sources.objectstore import ObjectStoreServer

        with ObjectStoreServer() as srv:
            monkeypatch.setenv("CHROMA_SPARK_COMMIT_URL", srv.url)
            yield request.param
    else:
        monkeypatch.delenv("CHROMA_SPARK_COMMIT_URL", raising=False)
        yield request.param


def _spawn(*args: str) -> subprocess.Popen:
    env = {**os.environ, "PYTHONPATH": REPO}
    return subprocess.Popen(
        [sys.executable, WORKER, *args],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
        cwd=REPO,
    )


def _join(procs: list[subprocess.Popen], timeout: int) -> list[str]:
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=timeout)
        assert p.returncode == 0, f"worker failed:\n{err}\n{out}"
        outs.append(out)
    return outs


def test_catalog_cas_no_lost_updates(tmp_path, commit_backend_env):
    """4 processes x 40 mutate() increments: every increment survives and
    the commit log is a gap-free, linearizable generation history — on the
    hard-link backend AND the emulated object store (conditional PUT)."""
    from chroma_spark.sources.collection import Catalog, CollectionMeta

    root = str(tmp_path / "cat")
    cat = Catalog(root)
    cat.create(CollectionMeta(name="hammer", id="h1"))
    n_proc, n_iter = 4, 40
    procs = [
        _spawn("catalog_hammer", root, f"p{i}", str(n_iter)) for i in range(n_proc)
    ]
    _join(procs, timeout=120)

    meta = cat.get("hammer")
    assert meta.metadata["counter"] == n_proc * n_iter
    assert meta.version == n_proc * n_iter
    tokens = meta.metadata["tokens"]
    assert len(tokens) == n_proc * n_iter
    assert len(set(tokens)) == n_proc * n_iter  # every worker's every write
    # linearizable history: the head generation counts every commit (create
    # + one per mutate); pruned objects leave no gaps in what remains
    gens = cat._commit_gens()
    assert gens[-1] == n_proc * n_iter + 1
    assert gens == list(range(gens[0], gens[-1] + 1))
    # the checkpoint mirrors the head commit
    snap = json.load(open(os.path.join(root, "catalog.json")))
    assert snap["collections"]["hammer"]["metadata"]["counter"] == n_proc * n_iter


def test_concurrent_add_compact_fork_gc_two_processes(spark, tmp_path, commit_backend_env):
    """The round-5 verdict's 'Done' soak: two OS processes (two JVMs) run
    concurrent list-API adds + forks against repeated compact() + gc() on
    ONE collection. No lost writes, no duplicated/overlapping WAL seqs, a
    monotone version history, and every fork readable afterward."""
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    client = Client(spark, root)
    col = client.create_collection("mpsoak", dimension=2)
    col.add(ids=["a0", "a1", "a2"], embeddings=[[0.0, 0.0], [0.1, 0.1], [0.2, 0.2]])

    n_adds, n_compacts = 14, 6
    procs = [
        _spawn("writer_forker", root, str(n_adds)),
        _spawn("compactor_gcer", root, str(n_compacts)),
    ]
    outs = _join(procs, timeout=600)
    assert "compacts=" in outs[1]

    # reopen cold in THIS process and audit the final state
    client = Client(spark, root)
    col = client.get_collection("mpsoak")
    rows = col.get(include=[])
    ids = sorted(r["id"] for r in rows)
    expected = sorted([f"a{i}" for i in range(3)] + [f"w{i}" for i in range(n_adds)])
    assert ids == expected  # nothing lost, nothing duplicated

    # WAL seq ranges never overlapped: distinct seq per surviving log row
    log = col._store.read_log(col._store.meta)
    if log is not None:
        seqs = [r["seq_id"] for r in log.select("seq_id").collect()]
        assert len(seqs) == len(set(seqs))

    # every fork the writer created is present, readable, and kept its row
    forks = [n for n in client.list_collections() if n.startswith("soak_child_")]
    assert forks, "writer forked at least once"
    for name in forks:
        child = client.get_collection(name)
        i = int(name.rsplit("_", 1)[1])
        child_ids = {r["id"] for r in child.get(include=[])}
        assert f"c{i}" in child_ids  # the fork's own write survived gc
        assert child_ids <= set(expected) | {f"c{i}"}
    # compactions advanced the version monotonically and state is compactable
    assert col.version >= 1
    v = col.compact()
    assert v == col.version and col.count() == len(expected)


def test_dual_compactors_serialize_on_the_lock(spark, tmp_path):
    """TWO compactor processes race one collection while the parent keeps
    writing: the advisory per-collection lock serializes them (losers get
    a clean 'another process is compacting' error, absorbed by the
    worker), both base dirs stay uncorrupted, and no write is lost."""
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    client = Client(spark, root)
    col = client.create_collection("mpsoak", dimension=2)
    col.add(ids=["seed"], embeddings=[[0.0, 0.0]])

    procs = [
        _spawn("compactor_gcer", root, "5"),
        _spawn("compactor_gcer", root, "5"),
    ]
    n_adds = 8
    for i in range(n_adds):
        col.add(ids=[f"m{i}"], embeddings=[[float(i), 0.5]])
    outs = _join(procs, timeout=600)
    total_compacts = sum(int(o.split("compacts=")[1]) for o in outs if "compacts=" in o)
    assert total_compacts >= 1  # somebody got the lock and finished

    col = Client(spark, root).get_collection("mpsoak")
    ids = sorted(r["id"] for r in col.get(include=[]))
    assert ids == sorted(["seed"] + [f"m{i}" for i in range(n_adds)])
    assert col.compact() == col.version  # state still compacts cleanly


def test_two_hot_writers_never_overlap_seqs(spark, tmp_path, commit_backend_env):
    """Two tight-loop writer processes (no sleeps) hammer one collection:
    the log-cursor CAS forces the loser to re-base its fragment's seq ids
    (_shift_log_fragment), so every id survives and every surviving WAL
    row has a unique seq — the overlap a last-writer-wins catalog would
    silently produce. Runs on BOTH commit backends: this is the sharpest
    cursor contention the HTTP conditional-PUT path sees."""
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    client = Client(spark, root)
    client.create_collection("mphot", dimension=2)

    n_iter = 10
    procs = [
        _spawn("hot_writer", root, "p", str(n_iter)),
        _spawn("hot_writer", root, "q", str(n_iter)),
    ]
    _join(procs, timeout=600)

    col = Client(spark, root).get_collection("mphot")
    ids = sorted(r["id"] for r in col.get(include=[]))
    assert ids == sorted([f"p{i}" for i in range(n_iter)] + [f"q{i}" for i in range(n_iter)])
    log = col._store.read_log(col._store.meta)
    seqs = [r["seq_id"] for r in log.select("seq_id").collect()]
    assert len(seqs) == len(set(seqs)) == 2 * n_iter
    # the committed cursor sits past every seq (re-based fragments advance it)
    assert col._store.meta.log_position > max(seqs)


def test_conditional_transactions_two_processes(spark, tmp_path):
    """Cross-process conditional transactions on disjoint ids: the strict
    first-append CAS forces silent re-validation instead of lost writes."""
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    client = Client(spark, root)
    client.create_collection("mptxn", dimension=2)

    n_iter = 6
    procs = [
        _spawn("txn_contender", root, "x", str(n_iter)),
        _spawn("txn_contender", root, "y", str(n_iter)),
    ]
    _join(procs, timeout=600)

    col = Client(spark, root).get_collection("mptxn")
    ids = sorted(r["id"] for r in col.get(include=[]))
    assert ids == sorted(
        [f"x{i}" for i in range(n_iter)] + [f"y{i}" for i in range(n_iter)]
    )


def test_resident_state_not_served_after_another_process_compacts(spark, tmp_path):
    """A state resident in this process is never served once another
    process commits: its add + compaction is a new catalog state, so the
    next read resolves a new view over the new base."""
    from chroma_spark.api import Client

    root = str(tmp_path / "store")
    col = Client(spark, root).create_collection("mpres", dimension=2)
    col.add(ids=["a", "b"], embeddings=[[0.0, 0.0], [1.0, 0.0]])
    assert col.count() == 2
    before = col._read().view
    assert before.resident and before.records.is_cached

    _join([_spawn("add_compact", root, "mpres", "w")], timeout=300)

    assert col.count() == 3
    after = col._read().view
    assert after is not before and not before.resident
    assert after.meta.version == before.meta.version + 1
    assert col.query([[5.0, 5.0]], n_results=1)["ids"][0] == ["w"]
