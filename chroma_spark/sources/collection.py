"""Collection storage: parquet base + append-only WAL log + JSON catalog.

Maps the reference's storage model (SURVEY §1.1) to files:

- catalog (``<root>/catalog.json``) — the sysdb analog: one entry per
  collection with id, dimension, distance space, version, log position
  (``chromadb/types.py:71-105``; register op ``operators/register.rs``).
- ``<root>/<name>/base/`` — compacted records (the record+metadata+vector
  segments collapsed into one parquet table; SURVEY §1.1 "Segment" row).
- ``<root>/<name>/log/`` — WAL batches ``(seq_id, op, id, fields...)``
  (``embeddings_queue.py:189``; wal3). Every write APPENDS parquet part
  files; nothing is rewritten until compaction.
- reads materialize ``base ∪ log`` (ReadLevel INDEX_AND_WAL,
  ``rust/types/src/execution/plan.rs:553``) or base only (INDEX_ONLY).
- ``compact()`` folds the log into a new base version (the
  CompactOrchestrator path: partition_log -> materialize_logs -> flush ->
  register) and truncates the log.
- ``fork`` (``Collection.py:329``) — zero-copy: the child catalog entry
  references the parent's base/log part files by path; new writes land in
  the child's own log dir.

Multi-process commit protocol (the sysdb/wal3 analog,
``/root/reference/go/pkg/sysdb/coordinator/``,
``rust/wal3/README.md:33-37``): every catalog state change is one commit
file ``_commits/<gen>.json`` holding the FULL catalog state, created with
an atomic ``os.link`` that FAILS if another writer took that generation —
compare-and-swap on the generation counter. Losers re-read the fresh
state, re-apply their mutation (re-checking preconditions such as
``expected_version``), and retry the next generation. Readers load the
highest generation; ``catalog.json`` is a per-commit checkpoint kept for
legacy bootstrap and so OLDER engine builds refuse cleanly instead of
misreading. On an object store the same protocol is a conditional PUT
(if-none-match) of the manifest — exactly wal3's CAS manifest.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

RECORD_COLS = ("id", "embedding", "document", "uri")
LOG_COLS = ("seq_id", "op")


class CollectionError(ValueError):
    pass


class StaleReadError(CollectionError):
    """A read targeted state that no longer exists (modified during a
    transaction, or a version pruned by :meth:`Collection.gc`)."""


@dataclass
class CollectionMeta:
    name: str
    id: str
    dimension: int | None = None
    space: str = "l2"
    version: int = 0
    log_position: int = 0
    metadata: dict[str, Any] = field(default_factory=dict)
    base_paths: list[str] = field(default_factory=list)
    log_paths: list[str] = field(default_factory=list)
    schema: dict | None = None  # serialized chroma_spark.schema.Schema
    # engine-owned index descriptors keyed "vector", "sparse:<key>",
    # "dedup" and "fts" — the segment registrations (a compaction writes
    # every index for one collection version; reads check freshness against
    # it). chroma_spark/layout.py describes the epoch scheme they share.
    indexes: dict[str, dict] = field(default_factory=dict)
    # engine-owned configuration: "embedding_function",
    # "sparse_embedding_function", "tokenizer", "functions"
    config: dict[str, Any] = field(default_factory=dict)


CATALOG_FORMAT_VERSION = 3

# commit files kept behind the head for stale readers mid-listdir; each
# holds the FULL state so one file bootstraps everything
_COMMIT_KEEP = 8
_COMMIT_MAX_RETRIES = 500


_V1_META_FIELDS = frozenset(
    ("name", "id", "dimension", "space", "version", "log_position", "metadata",
     "base_paths", "log_paths", "schema", "vector_index", "sparse_indexes")
)


def _migrate_catalog_v0(data: dict) -> dict:
    """v0 -> v1: drop meta keys the v1 CollectionMeta didn't know
    (pre-versioning catalogs could carry fields from experimental builds;
    dataclass construction would otherwise crash on them)."""
    return {
        name: {k: v for k, v in meta.items() if k in _V1_META_FIELDS}
        for name, meta in data.items()
    }


def _migrate_catalog_v1(data: dict) -> dict:
    """v1 -> v2: the flat ``{name: meta}`` map becomes one state object
    ``{"collections": ..., "namespaces": ...}`` so tenant/database updates
    ride the same CAS commit as collection updates (namespaces migrate
    from the legacy side file in ``Catalog._load``)."""
    return {"collections": data, "namespaces": {}}


def _migrate_catalog_v2(data: dict) -> dict:
    """v2 -> v3: engine state leaves the user's metadata dict. Index
    descriptors (``vector_index``, ``sparse_indexes``, ``__dedup_index__``,
    ``__fts_index__``) move into ``indexes`` and gain their layout kind;
    embedding-function, tokenizer and attached-function specs move into
    ``config``. Descriptors without epoch stamps (pre-incremental layouts
    the epoch layer cannot read) are dropped: reads fall back to scans
    until the index is built again, and gc reclaims the files."""
    for meta in data["collections"].values():
        md = meta.get("metadata") or {}
        found = {
            "vector": meta.pop("vector_index", None),
            "dedup": md.pop("__dedup_index__", None),
            "fts": md.pop("__fts_index__", None),
        }
        for key, desc in (meta.pop("sparse_indexes", None) or {}).items():
            found[f"sparse:{key}"] = desc
        kinds = {"vector": "ivf", "dedup": "dedup", "fts": "fts"}
        meta["indexes"] = {
            name: {**desc, "kind": kinds.get(name, "sparse")}
            for name, desc in found.items()
            if desc and desc.get("epoch") is not None
        }
        vi = meta["indexes"].get("vector")
        if vi is not None:
            vi["n_docs"] = vi.pop("n_rows", 0)
            vi["quantized"] = next(
                (t for t, k in (("sign", "means"), ("sq4", "sq4_lo"), ("pq", "pq")) if k in vi),
                False,
            )
        meta["config"] = {
            k: md.pop(f"__{k}__")
            for k in ("embedding_function", "sparse_embedding_function", "tokenizer", "functions")
            if f"__{k}__" in md
        }
    return data


_CATALOG_MIGRATIONS = {0: _migrate_catalog_v0, 1: _migrate_catalog_v1, 2: _migrate_catalog_v2}


class CatalogConflictError(CollectionError):
    """A commit generation was taken repeatedly by other writers (only
    raised after heavy retrying — practically unreachable off a pathological
    livelock)."""


class Catalog:
    """Multi-process-safe JSON sysdb: a link-CAS commit log.

    Every mutation commits the full (small — metadata only) catalog state
    as ``_commits/<gen>.json`` via tmp-write + ``os.link`` — link is atomic
    and fails with EEXIST when another process took the generation, giving
    compare-and-swap without any lock server (wal3's CAS manifest /
    sysdb's transactional version update, ``rust/wal3/README.md:33-37``).
    :meth:`mutate` re-applies the caller's mutation to FRESH state on every
    retry, so read-modify-write races (two processes appending WAL paths,
    add vs compact) merge instead of losing updates.

    Format stamps: commit files carry ``__format__``; a catalog written by
    a NEWER engine refuses cleanly (never misreads), and older stamped
    versions migrate stepwise through ``_CATALOG_MIGRATIONS`` (the
    reference's cross-version-persist upgrade contract,
    ``chromadb/test/property/test_cross_version_persist.py``). A root with
    no ``_commits/`` bootstraps from the legacy single-file
    ``catalog.json`` + ``namespaces.json`` (v<=1 layouts); an unstamped
    file is pre-versioning and reads as v1.

    Commit files live behind a :class:`~.objectstore.CommitBackend` — the
    one primitive the protocol needs from storage is put-if-absent. The
    default is the hard-link filesystem CAS under ``<root>/_commits``;
    set ``CHROMA_SPARK_COMMIT_URL`` (or pass ``commit_backend``) to run
    the identical protocol against an object store via conditional PUT
    (``If-None-Match: *``) — wal3's manifest CAS on S3,
    ``rust/wal3/README.md:33-37``.
    """

    def __init__(self, root: str, commit_backend=None) -> None:
        from .objectstore import backend_for_root

        self.root = root
        self.path = os.path.join(root, "catalog.json")
        self.commits_dir = os.path.join(root, "_commits")
        os.makedirs(root, exist_ok=True)
        self.backend = commit_backend if commit_backend is not None else backend_for_root(root)

    # -- state load/commit ---------------------------------------------

    @staticmethod
    def _migrate(data: dict, v: int, origin: str) -> dict:
        if v > CATALOG_FORMAT_VERSION:
            raise CollectionError(
                f"catalog {origin} was written by a newer engine (format v{v}; "
                f"this build reads <= v{CATALOG_FORMAT_VERSION}) — upgrade the engine"
            )
        while v < CATALOG_FORMAT_VERSION:
            if v not in _CATALOG_MIGRATIONS:
                raise CollectionError(
                    f"catalog {origin} has format v{v} with no migration path; "
                    "refusing to open"
                )
            data = _CATALOG_MIGRATIONS[v](data)
            v += 1
        return data

    def _commit_gens(self) -> list[int]:
        names = self.backend.list_keys()
        return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())

    def _load(self) -> tuple[dict, int]:
        """(state, generation). State shape:
        ``{"collections": {name: meta_dict}, "namespaces": {tenant: [db]}}``."""
        gens = self._commit_gens()
        while gens:
            gen = gens.pop()
            key = f"{gen:020d}.json"
            raw = self.backend.read(key)
            if raw is None:
                continue  # pruned between list and read; fall back one gen
            data = json.loads(raw)
            fmt = data.pop("__format__", None)
            v = int(fmt.get("version", 1)) if fmt else 1
            return self._migrate(data, v, key), gen
        # legacy bootstrap: single-file catalog written by a v<=1 build
        # (or an empty root)
        state: dict = {"collections": {}, "namespaces": {}}
        if os.path.exists(self.path):
            with open(self.path) as f:
                data = json.load(f)
            fmt = data.pop("__format__", None)
            v = int(fmt.get("version", 1)) if fmt else 1
            state = self._migrate(data, v, self.path)
        ns_path = os.path.join(self.root, "namespaces.json")
        if not state.get("namespaces") and os.path.exists(ns_path):
            with open(ns_path) as f:
                state["namespaces"] = json.load(f)
        state.setdefault("collections", {})
        state.setdefault("namespaces", {})
        return state, 0

    def _try_commit(self, state: dict, gen: int) -> bool:
        """CAS-install ``state`` as generation ``gen`` via the backend's
        put-if-absent (hard-link on a filesystem, conditional PUT on an
        object store); False on a lost race. The committed key appears
        atomically with full content, so readers never see a torn file."""
        payload = {"__format__": {"version": CATALOG_FORMAT_VERSION}, **state}
        data = json.dumps(payload, indent=1).encode()
        if not self.backend.put_if_absent(f"{gen:020d}.json", data):
            return False
        self._checkpoint(payload, gen)
        return True

    def _checkpoint(self, payload: dict, gen: int) -> None:
        """Refresh the ``catalog.json`` snapshot (legacy bootstrap +
        older-engine clean refusal) and prune (mark-and-sweep) commits far
        behind head. Best-effort: a crash here only leaves extra files."""
        try:
            tmp = self.path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(payload, f, indent=1)
            os.replace(tmp, self.path)
            for g in self._commit_gens():
                if g < gen - _COMMIT_KEEP:
                    self.backend.delete(f"{g:020d}.json")
        except OSError:
            pass

    def _commit(self, mutate) -> None:
        """Run ``mutate(state)`` (in-place) against fresh state and CAS-
        commit; on a lost race, re-read and re-apply. ``mutate`` must be
        side-effect-free outside the state dict (it reruns on conflict) and
        may raise to abort (e.g. a failed precondition)."""
        import random
        import time as _time

        for attempt in range(_COMMIT_MAX_RETRIES):
            state, gen = self._load()
            mutate(state)
            if self._try_commit(state, gen + 1):
                return
            # lost the generation race: back off briefly, then retry on
            # the fresh state (bounded jitter; contention on a metadata
            # commit resolves in a handful of rounds)
            _time.sleep(min(0.1, 0.001 * (2 ** min(attempt, 6))) * random.random())
        raise CatalogConflictError(
            f"catalog commit lost {_COMMIT_MAX_RETRIES} CAS races in a row"
        )

    # -- collection API -------------------------------------------------

    def list(self) -> list[str]:
        return sorted(self._load()[0]["collections"])

    def get(self, name: str) -> CollectionMeta:
        colls = self._load()[0]["collections"]
        if name not in colls:
            raise CollectionError(f"collection {name!r} does not exist")
        return CollectionMeta(**colls[name])

    def create(self, meta: CollectionMeta, get_or_create: bool = False) -> CollectionMeta:
        found: dict = {}

        def _m(state):
            colls = state["collections"]
            if meta.name in colls:
                if get_or_create:
                    found["meta"] = CollectionMeta(**colls[meta.name])
                    raise _AbortCommit()
                raise CollectionError(f"collection {meta.name!r} already exists")
            colls[meta.name] = dict(meta.__dict__)

        try:
            self._commit(_m)
        except _AbortCommit:
            return found["meta"]
        return meta

    def mutate(self, name: str, fn, expected_version: int | None = None) -> CollectionMeta:
        """Apply ``fn(meta) -> meta | None`` to the FRESH CollectionMeta
        under the commit CAS — the lost-update-free way to change one
        collection's state. ``fn`` reruns against re-read state on every
        CAS retry, so its precondition checks (and ``expected_version``,
        the reference's conditional-transaction register check,
        ``chromadb/api/__init__.py:320-450``) hold at the committed
        generation, not merely at first read."""
        out: dict = {}

        def _m(state):
            colls = state["collections"]
            if name not in colls:
                raise CollectionError(f"collection {name!r} does not exist")
            if expected_version is not None and colls[name]["version"] != expected_version:
                raise CollectionError(
                    f"conditional commit failed: version is {colls[name]['version']}, "
                    f"expected {expected_version}"
                )
            meta = CollectionMeta(**colls[name])
            res = fn(meta)
            meta = res if res is not None else meta
            colls[name] = dict(meta.__dict__)
            out["meta"] = meta

        self._commit(_m)
        return out["meta"]

    def update(self, meta: CollectionMeta, expected_version: int | None = None) -> None:
        """Register a new collection state wholesale. Field-blind (last
        writer wins on UNRELATED fields) — concurrent-safe call sites use
        :meth:`mutate`; this remains for single-writer flows that already
        hold the freshest meta."""

        def _m(state):
            colls = state["collections"]
            if meta.name not in colls:
                raise CollectionError(f"collection {meta.name!r} does not exist")
            if expected_version is not None and colls[meta.name]["version"] != expected_version:
                raise CollectionError(
                    f"conditional commit failed: version is {colls[meta.name]['version']}, "
                    f"expected {expected_version}"
                )
            colls[meta.name] = dict(meta.__dict__)

        self._commit(_m)

    def drop(self, name: str, precondition=None) -> None:
        """``precondition(state)`` (optional) runs INSIDE the commit CAS —
        it re-checks against fresh state on every retry, so guards like
        'nothing references this collection' hold at the committed
        generation, not merely at first read."""

        def _m(state):
            if name not in state["collections"]:
                raise CollectionError(f"collection {name!r} does not exist")
            if precondition is not None:
                precondition(state)
            del state["collections"][name]

        self._commit(_m)

    def rename(self, old: str, new: str, precondition=None) -> None:
        """Collection.modify(name=...) — a catalog-only move: data paths are
        recorded absolute in the meta, so no files move. ``precondition``
        as in :meth:`drop`."""

        def _m(state):
            colls = state["collections"]
            if old not in colls:
                raise CollectionError(f"collection {old!r} does not exist")
            if new in colls:
                raise CollectionError(f"collection {new!r} already exists")
            if precondition is not None:
                precondition(state)
            colls[new] = colls.pop(old)
            colls[new]["name"] = new

        self._commit(_m)

    # -- tenant / database namespaces (chromadb/types.py:202-210;
    # routes rust/frontend/src/server.rs:306-325) ----------------------

    def create_tenant(self, tenant: str, get_or_create: bool = False) -> None:
        def _m(state):
            ns = state["namespaces"]
            if tenant in ns:
                if get_or_create:
                    raise _AbortCommit()
                raise CollectionError(f"tenant {tenant!r} already exists")
            ns[tenant] = []

        try:
            self._commit(_m)
        except _AbortCommit:
            pass

    def create_database(self, tenant: str, database: str, get_or_create: bool = False) -> None:
        def _m(state):
            ns = state["namespaces"]
            if tenant not in ns:
                raise CollectionError(f"tenant {tenant!r} does not exist")
            if database in ns[tenant]:
                if get_or_create:
                    raise _AbortCommit()
                raise CollectionError(
                    f"database {database!r} already exists in tenant {tenant!r}"
                )
            ns[tenant].append(database)

        try:
            self._commit(_m)
        except _AbortCommit:
            pass

    def drop_database(self, tenant: str, database: str) -> None:
        """Remove a database and every collection scoped under it in ONE
        commit — the sysdb delete-database cascade, atomic under the CAS."""
        prefix = f"{tenant}/{database}/"

        def _m(state):
            ns = state["namespaces"]
            if tenant not in ns:
                raise CollectionError(f"tenant {tenant!r} does not exist")
            if database not in ns[tenant]:
                raise CollectionError(
                    f"database {database!r} does not exist in tenant {tenant!r}"
                )
            ns[tenant].remove(database)
            state["collections"] = {
                n: m for n, m in state["collections"].items() if not n.startswith(prefix)
            }

        self._commit(_m)

    def has_database(self, tenant: str, database: str) -> bool:
        return database in self._load()[0]["namespaces"].get(tenant, [])

    def list_tenants(self) -> list[str]:
        return sorted(self._load()[0]["namespaces"])

    def list_databases(self, tenant: str) -> list[str]:
        return sorted(self._load()[0]["namespaces"].get(tenant, []))


class _AbortCommit(Exception):
    """Internal: abandon a _commit without writing (get_or_create hits)."""


class CollectionStore:
    """Physical IO for one collection (paths, appends, reads)."""

    def __init__(self, spark: SparkSession, catalog: Catalog, name: str) -> None:
        self.spark = spark
        self.catalog = catalog
        self.name = name

    @property
    def meta(self) -> CollectionMeta:
        return self.catalog.get(self.name)

    def _dir(self, kind: str, version: int | None = None) -> str:
        sub = f"base_v{version}" if kind == "base" and version is not None else kind
        return os.path.join(self.catalog.root, self.name, sub)

    def append_log(self, df: DataFrame) -> str:
        """Append one WAL batch as a new parquet path; returns the path."""
        path = os.path.join(self._dir("log"), f"batch-{time.time_ns()}-{uuid.uuid4().hex[:8]}")
        df.write.mode("error").parquet(path)
        return path

    # reads take the caller's meta rather than re-reading the catalog: base
    # and log of one call must come from ONE catalog state, or a compaction
    # committing between two reads pairs the old base with the truncated log
    def read_log(self, meta: CollectionMeta) -> DataFrame | None:
        return self._read_parts(meta.log_paths)

    def read_base(self, meta: CollectionMeta) -> DataFrame | None:
        return self._read_parts(meta.base_paths)

    def _read_parts(self, paths: list[str]) -> DataFrame | None:
        if not paths:
            return None
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def write_base(self, df: DataFrame, version: int) -> str:
        path = self._dir("base", version)
        df.write.mode("overwrite").parquet(path)
        return path

    def list_base_versions(self) -> list[int]:
        """Versions still on disk (compaction keeps old bases until gc)."""
        d = os.path.join(self.catalog.root, self.name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(s.rsplit("_v", 1)[1]) for s in os.listdir(d) if s.startswith("base_v")
        )

    def read_base_version(self, version: int) -> DataFrame:
        path = self._dir("base", version)
        if not os.path.isdir(path):
            raise StaleReadError(
                f"version {version} of {self.name!r} is not on disk "
                f"(pruned by gc or never compacted; available: "
                f"{self.list_base_versions()})"
            )
        return self.spark.read.parquet(path)

    def list_log_batch_dirs(self) -> list[str]:
        """Every WAL batch dir on disk (referenced or not — gc's input)."""
        d = self._dir("log")
        if not os.path.isdir(d):
            return []
        return sorted(os.path.join(d, s) for s in os.listdir(d) if s.startswith("batch-"))
