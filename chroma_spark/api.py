"""Public API: Client / Collection, mirroring the reference surface.

``chromadb/api/models/Collection.py``: add(:96) update(:459) upsert(:515)
delete(:559) get peek(:194) query(:212) search(:368) count(:61) fork(:329)
— re-expressed over parquet + WAL storage (sources/collection.py) with all
reads/queries as DataFrame plans.

Reads default to ReadLevel INDEX_AND_WAL (base ∪ un-compacted log,
materialized on the fly — ``rust/types/src/execution/plan.rs:553``);
``read_level="index_only"`` skips the log tail. ``compact()`` is the
compaction orchestrator analog: fold log into a new base version and
register it in the catalog.
"""

from __future__ import annotations

import functools
import math
import threading
import uuid
from collections import OrderedDict
from typing import Any, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann.ivf import ivf_search
from .ann.pq import encode_pq, ivf_pq_search, train_pq
from .ann.quantize import (
    build_codes, build_codes4, dim_means, dim_ranges, ivf_quantized_search, ivf_sq4_search,
)
from .frames import local_frame
from .operators.knn import exact_knn, knn_merge
from .operators.limit import page
from .operators.rank import collect_knn_terms
from .operators.search import search as search_op
from .plans import Filter, GetPlan, KNNPlan, Limit, Search
from .sources.collection import (
    Catalog,
    CollectionError,
    CollectionMeta,
    CollectionStore,
    StaleReadError,
)
from .quota import Action, AllowAllQuotaEnforcer, QuotaPayload
from .schema import Schema
from .sources.log import WHERE_OP, WhereOp, materialize, split_where_ops, where_op_matches
from .sparse_vector import SPARSE_VECTOR_TYPE
from .where import filter_records

_META_SPARK_TYPES = {bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType(), str: T.StringType()}

# index kind -> (layout stamp kind, epoch-stamped posting sub-layout, its
# partition column). Descriptors live in ``CollectionMeta.indexes`` keyed
# "vector", "sparse:<key>", "dedup" and "fts"; layout.py holds the one
# epoch/tombstone mechanism all four share.
_INDEX_SPECS = {
    "vector": ("ivf", "postings", "centroid_id"),
    "sparse": ("sparse", "postings", "bucket"),
    "dedup": ("dedup", "bands", "band"),
    "fts": ("fts", "postings", "bucket"),
}

# vector-index quantizer tier -> (its coded IVF search, the trained codec
# read from a descriptor, the postings encoder, the default rerank factor)
_CODED_IVF = {
    "sign": (ivf_quantized_search, lambda col, vi: [float(m) for m in vi["means"]],
             lambda rows, means: build_codes(rows, means=means)[0], 24),
    "sq4": (ivf_sq4_search, lambda col, vi: (list(vi["sq4_lo"]), list(vi["sq4_step"])),
            lambda rows, ranges: build_codes4(rows, ranges=ranges)[0], 4),
    "pq": (ivf_pq_search, lambda col, vi: col._pq_books(vi), encode_pq, 8),
}

# the fields every record frame carries (an empty collection's typed frame)
_RECORD_FIELDS = {
    "id": T.StringType(), "offset_id": T.LongType(), "embedding": T.ArrayType(T.FloatType()),
    "document": T.StringType(), "uri": T.StringType(),
}


class _LogCursorMoved(Exception):
    """Internal: a WAL-append CAS found the log cursor advanced by another
    writer; carries the fresh position so the fragment can be re-based."""

    def __init__(self, fresh_pos: int) -> None:
        self.fresh_pos = fresh_pos


class _TxnCursorMoved(Exception):
    """Internal: a transactional first append lost its cursor CAS —
    Transaction.commit re-validates its read/write sets and retries."""


DEFAULT_TENANT = "default_tenant"
DEFAULT_DATABASE = "default_database"


class Client:
    """Entry point; ``root`` is the storage directory (local or any
    Hadoop-compatible FS URI on a cluster).

    Collections are namespaced under (tenant, database) exactly as the
    reference's REST surface (`chromadb/types.py:202-210`,
    `rust/frontend/src/server.rs:306-325`); the default pair is
    auto-created, any other must exist (``create_tenant`` /
    ``create_database``)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tenant: str = DEFAULT_TENANT,
        database: str = DEFAULT_DATABASE,
        quota_enforcer=None,
        rate_limiter=None,
        auth_provider=None,
        authz_provider=None,
        credentials: dict | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = Catalog(root)
        # authn happens ONCE at construction (the reference authenticates
        # per request because each request is a fresh HTTP call; a client
        # object is the session here), authz per action in _enforce
        self.user = None
        self.authz_provider = authz_provider
        if auth_provider is not None:
            from .auth import resolve_tenant_scope

            self.user = auth_provider.authenticate_or_raise(credentials or {})
            tenant, database = resolve_tenant_scope(
                self.user, tenant, database, DEFAULT_TENANT, DEFAULT_DATABASE
            )
        self.tenant, self.database = tenant, database
        # frontend admission control (quota.py; rust/frontend/src/quota):
        # rate check first, then usage measurement — default allows all
        self.quota_enforcer = quota_enforcer or AllowAllQuotaEnforcer()
        self.rate_limiter = rate_limiter
        if tenant == DEFAULT_TENANT:
            self.catalog.create_tenant(tenant, get_or_create=True)
            if database == DEFAULT_DATABASE:
                self.catalog.create_database(tenant, database, get_or_create=True)
        if not self.catalog.has_database(tenant, database):
            raise CollectionError(f"database {database!r} in tenant {tenant!r} does not exist")

    def _enforce(self, action: Action, **fields) -> None:
        """Admission control for one API call, in the reference's
        middleware order: authorization (chromadb/auth authorize_or_raise),
        then rate bucket, then quota measurement (quota/mod.rs:465-474)."""
        if self.authz_provider is not None:
            from .auth import UserIdentity

            self.authz_provider.authorize_or_raise(
                self.user or UserIdentity(user_id="anonymous"), action
            )
        if self.rate_limiter is not None:
            self.rate_limiter.check(self.tenant, action)
        self.quota_enforcer.enforce(QuotaPayload(action=action, tenant=self.tenant, **fields))

    # -- utility surface (BaseAPI, chromadb/api/__init__.py:95,480-512) --

    def heartbeat(self) -> int:
        """Nanoseconds since epoch — liveness probe (BaseAPI.heartbeat)."""
        import time as _time

        return _time.time_ns()

    def get_version(self) -> str:
        from . import __version__

        return __version__

    def get_max_batch_size(self) -> int:
        """Max records per list-typed write call. The reference caps REST
        payloads; here the cap protects the driver (list-typed args are
        materialized there — DataFrame ingest via add_records is unbounded).
        Advisory unless a quota enforcer sets a stricter num_records."""
        return 100_000

    def count_collections(self) -> int:
        prefix = f"{self.tenant}/{self.database}/"
        return sum(1 for n in self.catalog.list() if n.startswith(prefix))

    def reset(self) -> bool:
        """Delete every collection in this (tenant, database). Destructive;
        requires opt-in exactly like the reference's ALLOW_RESET setting
        (BaseAPI.reset) — refuse otherwise."""
        if not getattr(self, "allow_reset", False):
            raise CollectionError(
                "reset() is disabled; construct the Client and set "
                "client.allow_reset = True to enable (ALLOW_RESET analog)"
            )
        prefix = f"{self.tenant}/{self.database}/"
        ids = set()
        for name in list(self.catalog.list()):
            if name.startswith(prefix):
                ids.add(self.catalog.get(name).id)
                self.catalog.drop(name)
        _ReadView.release_collections(self.catalog.root, ids)
        return True

    # -- admin surface -------------------------------------------------

    def create_tenant(self, name: str) -> None:
        self.catalog.create_tenant(name)

    def create_database(self, name: str, tenant: str | None = None) -> None:
        self._enforce(
            Action.CREATE_DATABASE,
            collection_name=name,
            num_databases=len(self.catalog.list_databases(tenant or self.tenant)) + 1,
        )
        self.catalog.create_database(tenant or self.tenant, name)

    def list_tenants(self) -> list[str]:
        return self.catalog.list_tenants()

    def list_databases(
        self, tenant: str | None = None, limit: int | None = None, offset: int = 0
    ) -> list[str]:
        names = self.catalog.list_databases(tenant or self.tenant)
        return names[offset : offset + limit if limit is not None else None]

    def get_database(self, name: str, tenant: str | None = None) -> dict:
        """AdminAPI.get_database: raises if absent
        (chromadb/api/__init__.py:724)."""
        t = tenant or self.tenant
        if not self.catalog.has_database(t, name):
            raise CollectionError(f"database {name!r} in tenant {t!r} does not exist")
        return {"name": name, "tenant": t}

    def delete_database(self, name: str, tenant: str | None = None) -> None:
        """AdminAPI.delete_database (chromadb/api/__init__.py:735):
        removes the database AND its collections' catalog entries in ONE
        CAS commit (the sysdb cascade); on-disk data falls to gc."""
        self.catalog.drop_database(tenant or self.tenant, name)

    def _scoped(self, name: str) -> str:
        return f"{self.tenant}/{self.database}/{name}"

    def create_collection(
        self,
        name: str,
        dimension: int | None = None,
        space: str = "l2",
        metadata: dict[str, Any] | None = None,
        get_or_create: bool = False,
        schema: "Schema | None" = None,
        embedding_function: str | None = None,
        embedding_function_kwargs: dict | None = None,
        sparse_embedding_function: str | None = None,
        sparse_embedding_function_kwargs: dict | None = None,
        sparse_embedding_key: str = "sparse",
    ) -> "Collection":
        """``embedding_function`` is a registry name from
        functions/embedding.py (persisted in the collection config, as the
        reference stores the EF name in configuration_json) — when set,
        ``add``/``upsert`` auto-embed documents and ``query`` accepts
        ``query_texts``. ``sparse_embedding_function`` is the sparse twin
        (SPLADE wire provider or 'bm25_sparse'): writes auto-populate the
        ``sparse_embedding_key`` SparseVector column from documents, and
        ``sparse_query_batch(query_text_col=...)`` embeds query text with
        the same EF — the reference's sparse-EF collection configuration
        (`chroma_cloud_splade_embedding_function.py`)."""
        self._enforce(
            Action.CREATE_COLLECTION,
            collection_name=name,
            metadatas=[metadata] if metadata else None,
            num_collections=sum(
                1 for n in self.catalog.list() if n.startswith(f"{self.tenant}/{self.database}/")
            )
            + 1,
        )
        config: dict[str, Any] = {}
        if embedding_function is not None:
            from .functions.embedding import get_embedding_function

            get_embedding_function(embedding_function, **(embedding_function_kwargs or {}))  # validate
            config["embedding_function"] = {
                "name": embedding_function,
                "kwargs": embedding_function_kwargs or {},
            }
        if sparse_embedding_function is not None:
            from .functions.embedding import get_embedding_function

            get_embedding_function(
                sparse_embedding_function, **(sparse_embedding_function_kwargs or {})
            )  # validate the name/kwargs before persisting
            config["sparse_embedding_function"] = {
                "name": sparse_embedding_function,
                "kwargs": sparse_embedding_function_kwargs or {},
                "key": sparse_embedding_key,
            }
        meta = CollectionMeta(
            name=self._scoped(name),
            id=uuid.uuid4().hex,
            dimension=dimension,
            space=space,
            metadata=dict(metadata or {}),
            schema=schema.to_dict() if schema is not None else None,
            config=config,
        )
        self.catalog.create(meta, get_or_create=get_or_create)
        return Collection(self, self._scoped(name))

    def get_collection(self, name: str) -> "Collection":
        self.catalog.get(self._scoped(name))
        return Collection(self, self._scoped(name))

    def get_collection_by_id(self, id: str) -> "Collection":
        """Collection lookup by its UUID within this tenant/database scope
        (BaseAPI ``get_collection_by_id``,
        `/root/reference/chromadb/api/__init__.py:619-646`). One catalog
        state read; raises when no collection carries the id."""
        return self._lookup(id, by_name=False)

    def _lookup(self, ident: str, by_name: bool = True) -> "Collection":
        """Collection by name (when ``by_name``), else by UUID, from ONE
        catalog state read — the server's record routes address by id,
        its collection routes by name."""
        prefix = f"{self.tenant}/{self.database}/"
        colls = self.catalog._load()[0]["collections"]
        if by_name and prefix + ident in colls:
            return Collection(self, prefix + ident)
        for scoped_name, meta in colls.items():
            if scoped_name.startswith(prefix) and meta["id"] == str(ident):
                return Collection(self, scoped_name)
        what = "collection" if by_name else "collection with id"
        raise CollectionError(f"{what} {ident!r} does not exist")

    def get_or_create_collection(self, name: str, **kw) -> "Collection":
        return self.create_collection(name, get_or_create=True, **kw)

    def _guard_not_function_input(self, name: str):
        """Precondition (runs inside the catalog CAS): the collection is
        not an extra INPUT of any attached function in this scope —
        deleting/renaming it would otherwise permanently break the
        referencing collection's compact()."""
        prefix = f"{self.tenant}/{self.database}/"

        def _check(state):
            for scoped_name, meta in state["collections"].items():
                if not scoped_name.startswith(prefix):
                    continue
                for fn_name, spec in meta["config"].get("functions", {}).items():
                    if name in spec.get("inputs", []):
                        raise CollectionError(
                            f"collection {name!r} is an input of attached function "
                            f"{fn_name!r} on {scoped_name.rsplit('/', 1)[-1]!r}; "
                            "detach it first"
                        )

        return _check

    def delete_collection(self, name: str) -> None:
        cid = self.catalog.get(self._scoped(name)).id
        self.catalog.drop(self._scoped(name), precondition=self._guard_not_function_input(name))
        _ReadView.release_collections(self.catalog.root, {cid})

    def list_collections(self, limit: int | None = None, offset: int = 0) -> list[str]:
        self._enforce(Action.LIST_COLLECTIONS)
        prefix = f"{self.tenant}/{self.database}/"
        names = [n[len(prefix):] for n in self.catalog.list() if n.startswith(prefix)]
        return names[offset : offset + limit if limit is not None else None]

    def vacuum(self, keep_last: int = 1, grace_seconds: float = 60.0) -> dict[str, list[int]]:
        """Store-wide maintenance sweep — the CLI ``vacuum`` analog
        (`rust/cli/src/commands/vacuum.rs:224`): fold every collection's
        pending WAL into its base (compaction runs attached functions and
        incremental index maintenance as usual), then GC unreferenced base
        versions / index layouts / orphaned WAL dirs under ``gc``'s
        mark-and-sweep + fork-ref-count rules. Returns
        ``{collection: [pruned base versions]}``."""
        out: dict[str, list[int]] = {}
        for name in self.list_collections():
            col = self.get_collection(name)
            col.compact()
            out[name] = col.gc(keep_last=keep_last, grace_seconds=grace_seconds)
        return out


def _built_once(fn):
    """A :class:`_ReadView` property built at most once per view, under the
    view's own lock (``functools.cached_property`` holds one lock shared by
    every instance on Python 3.11, so views of different collections would
    wait on each other's schema-inference jobs)."""
    name = fn.__name__

    @functools.wraps(fn)
    def get(self):
        with self._lock:
            if name not in self._built:
                self._built[name] = fn(self)
            return self._built[name]

    return property(get)


# collections whose newest read state stays resident (LRU); Spark's storage
# LRU bounds the bytes the resident record frames take (MEMORY_AND_DISK)
RESIDENT_COLLECTIONS = 8
_resident: OrderedDict[tuple[str, str], "_ReadView"] = OrderedDict()
_resident_lock = threading.Lock()


class _ReadView:
    """One catalog state of a collection, resolved once and shared.

    Everything a read needs (base, WAL tail, pending predicate deletes)
    derives from the single ``meta`` the view was resolved from, so base
    and log always belong to one committed state. Reading them from two
    catalog reads would let a compaction commit in between and pair the
    old base with the truncated log, silently dropping the tail's records.
    Each frame is built at most once, under the view's own lock, so views
    of different collections or states never wait on each other.

    **Residency** (:meth:`resolve`): the newest state of each of the last
    ``RESIDENT_COLLECTIONS`` collections read stays resident process-wide,
    keyed by :attr:`key` ``(catalog root, collection id, version,
    log_position, read_level, log_bound)``. Concurrent readers of one state
    share one view; its folded ``records`` are persisted, and the frames of
    immutable artifacts (base paths, index layout builds) pass on to the
    collection's next state, so an insert never re-lists or re-infers them.
    Only a new catalog state invalidates anything: it has a new key.

    ``read_level`` mirrors the reference's ReadLevel
    (``rust/types/src/execution/plan.rs:553``): ``index_only`` (base only),
    ``index_and_wal`` (base ∪ full log tail), or ``index_and_bounded_wal``
    (base ∪ log where ``seq_id <= log_bound``)."""

    def __init__(
        self,
        store: CollectionStore,
        meta: CollectionMeta,
        read_level: str = "index_and_wal",
        log_bound: int | None = None,
    ) -> None:
        if read_level == "index_and_bounded_wal" and log_bound is None:
            raise ValueError("index_and_bounded_wal requires log_bound")
        self._store = store
        self.meta = meta
        self.read_level = read_level
        self._log_bound = log_bound
        self.key = (
            store.catalog.root, meta.id, meta.version, meta.log_position, read_level, log_bound,
        )
        self._lock = threading.RLock()
        self._built: dict[str, Any] = {}
        # frames keyed by the immutable artifact they read
        self.frames: dict[tuple, DataFrame | None] = {}
        # filter-selectivity counts of this state, keyed by predicate
        self.selectivity: dict[str, int] = {}
        self.resident = False

    @classmethod
    def resolve(
        cls,
        store: CollectionStore,
        meta: CollectionMeta,
        read_level: str = "index_and_wal",
        log_bound: int | None = None,
    ) -> "_ReadView":
        """The shared view of ``meta``'s state, made resident when it is
        the newest state seen of its collection (an older one — a reader
        that raced a commit — gets a private view)."""
        view = cls(store, meta, read_level, log_bound)
        slot = view.key[:2]
        with _resident_lock:
            old = _resident.get(slot)
            if old is not None and old.key == view.key:
                _resident.move_to_end(slot)
                return old
            if old is not None and old.key[2:4] > view.key[2:4]:
                return view
            released = [old] if old is not None else []
            # a collection dropped and re-created under the same name
            # (possibly by another process) rewrites the same paths
            for s, v in list(_resident.items()):
                if s[0] == slot[0] and s != slot and v.meta.name == meta.name:
                    released.append(_resident.pop(s))
            if old is not None:
                view.frames = {k: f for k, f in dict(old.frames).items() if view._carries(k)}
            view.resident = True
            _resident[slot] = view
            _resident.move_to_end(slot)
            while len(_resident) > RESIDENT_COLLECTIONS:
                released.append(_resident.popitem(last=False)[1])
        for v in released:
            v.release()
        return view

    @staticmethod
    def lookup(store: CollectionStore, meta: CollectionMeta) -> "_ReadView | None":
        """The resident ``index_and_wal`` view of ``meta``'s state, if any
        (never makes a state resident)."""
        view = _resident.get((store.catalog.root, meta.id))
        if view is not None and view.key[2:] == (meta.version, meta.log_position, "index_and_wal", None):
            return view
        return None

    @staticmethod
    def release_collections(root: str, ids: set[str]) -> None:
        """Release the resident views of collections ``ids`` under ``root``."""
        with _resident_lock:
            released = [_resident.pop(s) for s in list(_resident) if s[0] == root and s[1] in ids]
        for v in released:
            v.release()

    def release(self) -> None:
        """Stop being resident: unpersist the records (a build in flight
        unpersists its own result once it sees the flag)."""
        self.resident = False
        records = self._built.get("records")
        if records is not None:
            records.unpersist(blocking=False)

    def _carries(self, key: tuple) -> bool:
        """Whether a predecessor's frame ``key`` still describes an
        artifact this state references."""
        if key[0] == "base":
            return key[1] == tuple(self.meta.base_paths)
        return any(
            d["path"] == key[1] and (key[0] == "centroids" or d["version"] == key[3])
            for d in self.meta.indexes.values()
        )

    def frame(self, key: tuple, build) -> DataFrame | None:
        """The frame of the immutable artifact ``key``, built at most once
        per view and handed on to the collection's next resident state."""
        with self._lock:
            if key not in self.frames:
                self.frames[key] = build()
            return self.frames[key]

    @property
    def base(self) -> DataFrame | None:
        paths = tuple(self.meta.base_paths)
        return self.frame(("base", paths), lambda: self._store.read_base(self.meta))

    @_built_once
    def _tail(self) -> tuple[DataFrame | None, list[WhereOp]]:
        log = self._store.read_log(self.meta) if self.read_level != "index_only" else None
        if log is not None and self.read_level == "index_and_bounded_wal":
            log = log.filter(F.col("seq_id") <= int(self._log_bound))
        return split_where_ops(log)

    @property
    def log(self) -> DataFrame | None:
        """The id-keyed tail (DELETE_WHERE records split off)."""
        return self._tail[0]

    @property
    def where_ops(self) -> list[WhereOp]:
        return self._tail[1]

    @_built_once
    def records(self) -> DataFrame | None:
        """Materialized record state (None when empty); persisted while
        the view is resident."""
        records = Collection._fold(self.base, self.log, self.where_ops)
        if records is not None and self.resident:
            records = records.persist(StorageLevel.MEMORY_AND_DISK)
            self._built["records"] = records
            if not self.resident:  # released while building
                records.unpersist(blocking=False)
        return records

    @_built_once
    def touched(self) -> DataFrame | None:
        """Ids whose index entries the WAL tail makes stale (None with no
        tail): the ids the id-keyed tail writes plus the base ids a pending
        predicate delete matches (one vectorized base scan)."""
        if self.log is None:
            return None
        touched = self.log.select("id").distinct()
        if self.where_ops and self.base is not None:
            matched = Collection._predicate_matched_ids(self.base, self.where_ops)
            touched = touched.unionByName(matched).distinct()
        return touched

    @_built_once
    def tail(self) -> DataFrame | None:
        """Live state of the touched ids only — the bounded tail fold every
        index source merges (predicate deletes replay at their seqs)."""
        if self.touched is None:
            return None
        base = self.base.join(self.touched, "id", "semi") if self.base is not None else None
        return Collection._fold(base, self.log, self.where_ops)


class _Executor:
    """The one read executor (the reference's ``execution/executor/
    local.py``): every read builds a plan (``plans/``; a count is just its
    read level) and lowers it over ONE :class:`_ReadView` in a fixed order
    — filter (:meth:`filtered`), record source (a fresh index merged with
    the view's touched-ids / bounded tail fold: :meth:`ivf_top`,
    :meth:`sparse_indexes`; else the exact scan), rank and limit, then
    hydration of the winners only. An empty collection lowers over one
    typed empty record frame (:meth:`records`).

    ``meta`` is the catalog state the call read: the view's frames derive
    from its (version, log position), and its index descriptors and
    configuration are read fresh on every call — an index registered after
    the compaction that produced the state serves at once."""

    def __init__(self, col: "Collection", view: _ReadView, meta: CollectionMeta) -> None:
        self.col, self.view, self.meta = col, view, meta

    def _fresh(self, name: str) -> dict | None:
        """Index ``name``'s descriptor if it indexes this state, its layout
        stamp checked (on every read: the stamp lives outside the view)."""
        from .layout import check_layout

        desc = self.meta.indexes.get(name)
        if desc is None or desc["version"] != self.meta.version:
            return None
        return {**desc, "built": check_layout(desc["path"], desc["kind"])}

    def _live(self, desc: dict, sub: str) -> DataFrame:
        """Live rows of a fresh index's sub-layout, resolved once per
        layout build and version."""
        from .layout import live

        key = ("live", desc["path"], sub, desc["version"], desc["built"])
        return self.view.frame(key, lambda: live(desc, sub))

    def _ivf(self, vi: dict) -> tuple[DataFrame, DataFrame]:
        """(centroids, live postings) of the fresh vector index ``vi``."""
        import os as _os

        path = _os.path.join(vi["path"], "centroids")
        spark = self.col._client.spark
        centroids = self.view.frame(
            ("centroids", vi["path"], vi["built"]), lambda: spark.read.parquet(path)
        )
        return centroids, self._live(vi, "postings")

    def records(self, extra: dict[str, T.DataType] | None = None) -> DataFrame:
        """The view's records (if empty, a typed empty frame of the record
        fields), carrying every ``extra`` (name -> type) column a plan
        references: one no record has written is a typed null."""
        records = self.view.records
        if records is None:
            fields = {**_RECORD_FIELDS, **(extra or {})}
            schema = T.StructType([T.StructField(n, t) for n, t in fields.items()])
            return local_frame(self.col._client.spark, [], schema)
        missing = [n for n in (extra or {}) if n not in records.columns]
        if missing:
            records = records.withColumns({n: F.lit(None).cast(extra[n]) for n in missing})
        return records

    def filtered(self, flt: Filter, extra: dict[str, T.DataType] | None = None) -> DataFrame:
        """Stage 2: the records ``flt`` keeps."""
        wd = flt.where_document
        cands = self.fts_candidates(wd) if wd is not None else None
        return filter_records(self.records(extra), flt.ids, flt.where, wd, cands)

    def fts_candidates(self, where_document: dict) -> DataFrame | None:
        """Index-served candidate ids for a document filter, or None when
        the index can't help (absent, stale, or no positive >= 3-char
        literal in the tree). The candidate set is a SOUND superset of the
        base-side matches; WAL-touched ids union in so tail writes are
        re-checked exactly; the exact predicate always verifies."""
        from .operators.fts import contains_candidates, required_needles

        desc = self._fresh("fts")
        if desc is None:
            return None
        needles = required_needles(where_document)
        if not needles:
            return None
        cands = contains_candidates(self._live(desc, "postings"), needles, int(desc["n_buckets"]))
        if self.view.log is not None:
            cands = cands.unionByName(self.view.log.select("id").distinct()).distinct()
        return cands

    def _vector_index(self) -> dict | None:
        """The fresh vector index, if the read level lets an index serve."""
        if self.view.read_level not in ("index_only", "index_and_wal"):
            return None
        return self._fresh("vector")

    def _probes(
        self, vi: dict, nprobe: int | None, allowed: DataFrame | None, predicate_fp: str | None
    ) -> int:
        """The probe budget of index ``vi``: ``nprobe``, or every list."""
        probes = int(nprobe or vi["n_lists"])
        if allowed is None or nprobe is None or not vi.get("n_docs"):
            return probes
        # filter-before-ANN thins every probed list by the filter's
        # selectivity, so a fixed probe budget quietly loses recall
        # (measured at 1M: 10%-selective filters need ~4x the probes,
        # BASELINE.md round-6 filtered table). Scale the budget so the
        # expected CANDIDATE count matches what the caller asked for; the
        # one bounded count here prices a recall cliff away. Memoized per
        # predicate on the view: a query loop re-issuing the same filter
        # over one state pays ONE job, and a new state counts afresh.
        memo = self.view.selectivity
        n_allowed = memo.get(predicate_fp) if predicate_fp is not None else None
        if n_allowed is None:
            n_allowed = allowed.count()
            if predicate_fp is not None:
                memo[predicate_fp] = n_allowed
        sel = n_allowed / max(1, int(vi["n_docs"]))
        if 0.0 < sel < 1.0:
            probes = max(probes, min(int(vi["n_lists"]), math.ceil(probes / sel)))
        return probes

    @staticmethod
    def _scan_serves(vi: dict, probes: int) -> bool:
        """The physical choice: the exact scan serves instead of index
        ``vi`` when the probe covers every list of an unquantized index.
        Such a probe does at least the scan's distance work and, on top,
        assigns centroids, scans ``replicas``x postings, joins tombstones,
        dedups and merges the tail — for the same answer (both round
        distances to 6 decimals and order by ``(dist, id)``)."""
        return not vi.get("quantized") and probes >= int(vi["n_lists"])

    def ivf_top(
        self, qdf: DataFrame, k: int, nprobe: int | None, allowed: DataFrame | None,
        predicate_fp: str | None = None,
    ) -> DataFrame | None:
        """Stage 3, dense: index-side KNN + WAL-tail brute force +
        knn_merge (the reference's parallel knn_log + knn_hnsw ->
        knn_merge, SURVEY §3.2); None when the exact scan must serve
        instead (no fresh index or a bounded read level). Pending predicate
        deletes do NOT abandon the index: their matched ids are in the
        view's touched set, which the tail fold re-serves."""
        view, meta = self.view, self.meta
        vi = self._vector_index()
        if vi is None:
            return None
        centroids, postings = self._ivf(vi)
        search_kw = dict(
            k=k, nprobe=self._probes(vi, nprobe, allowed, predicate_fp),
            space=vi.get("space", meta.space), allowed_ids=allowed, excluded_ids=view.touched,
        )
        if vi.get("quantized"):
            search, codec, _encode, rerank_factor = _CODED_IVF[vi["quantized"]]
            index_top = search(
                centroids, postings, qdf, codec(self.col, vi),
                rerank_factor=int(vi.get("rerank_factor", rerank_factor)), **search_kw,
            )
        else:
            index_top = ivf_search(centroids, postings, qdf, **search_kw)
        if view.touched is None:
            return index_top
        tail = view.tail.filter(F.col("embedding").isNotNull())
        if allowed is not None:
            tail = tail.join(allowed, "id", "semi")
        return knn_merge([index_top, exact_knn(tail, qdf, k=k, space=meta.space)], k)

    def _fresh_sparse(self, keys: set[str]) -> dict[str, dict]:
        """Descriptors of the fresh sparse indexes on the columns ``keys``."""
        fresh = {key: self._fresh(f"sparse:{key}") for key in sorted(keys)}
        return {key: si for key, si in fresh.items() if si is not None}

    def sparse_indexes(self, keys: set[str]) -> dict:
        """Stage 3, sparse: fresh sparse indexes on the columns ``keys``
        as RankEvaluator specs ``(postings, n_buckets, n_docs)``, with the
        WAL tail merged in: index entries of the view's touched ids are
        anti-joined away and the bounded tail fold's postings unioned (the
        reference's parallel sparse_index_knn + sparse_log_knn); n_docs
        refreshes at compaction like the reference's index-time stats."""
        view = self.view
        out: dict = {}
        for key, si in self._fresh_sparse(keys).items():
            postings = self._live(si, "postings")
            if view.touched is not None:
                postings = postings.join(view.touched, "id", "anti")
                if key in view.tail.columns:
                    tail = view.tail.filter(F.col(key).isNotNull())
                    postings = postings.unionByName(self.col._index_rows(f"sparse:{key}", si, tail))
            out[key] = (postings, int(si["n_buckets"]), float(si["n_docs"]))
        return out

    def count(self) -> int:
        """A count plan: the cardinality of the view's records."""
        return self.records().count()

    def get(self, plan: GetPlan) -> DataFrame:
        """A get plan: filter, order by insertion offset, page, and project
        the page to ``include``."""
        rows = self.filtered(plan.filter)
        # un-ranked gets are ordered by the internal insertion offset, not
        # the user string id ("10" < "2" lexicographically) — limit.rs:23-36
        order = [F.col("id").asc()]
        if "offset_id" in rows.columns:
            order.insert(0, F.col("offset_id").asc_nulls_first())
        rows = page(rows, order, offset=plan.limit.offset, limit=plan.limit.limit)
        include = plan.include
        drop = {"embeddings": "embedding", "documents": "document", "uris": "uri"}
        hidden = {v for k, v in drop.items() if k not in include} | {"offset_id"}
        if "metadatas" not in include:
            # include gates metadata too (GetResult carries metadatas only
            # when asked, chromadb/api/types.py:585-608)
            hidden |= {c for c in rows.columns if c not in ("id", "embedding", "document", "uri")}
        return rows.select(*[c for c in rows.columns if c not in hidden])

    def knn(self, plan: KNNPlan, qdf: DataFrame, nprobe: int | None) -> DataFrame:
        """A dense KNN plan over the query frame ``qdf`` ``(query_id,
        embedding)``: top ``fetch`` ``(query_id, id, dist, rank)`` per query
        from :meth:`ivf_top` or, when no index may serve or the physical
        choice (:meth:`_scan_serves`) prefers it, the exact scan of the
        filtered records; an ``include`` beyond distances hydrates the
        winners only (the KnnProjection contract, knn_projection.rs:61)."""
        flt = plan.filter
        filtered = allowed = predicate_fp = None
        if any(f is not None for f in (flt.ids, flt.where, flt.where_document)):
            import json as _json

            filtered = self.filtered(flt)
            allowed = filtered.select("id")
            # stable fingerprint of the filter payload (the view is one
            # state at one read level): a query loop with a repeated filter
            # prices the nprobe selectivity boost ONCE
            predicate_fp = _json.dumps(
                [sorted(str(i) for i in flt.ids) if flt.ids is not None else None,
                 flt.where, flt.where_document],
                sort_keys=True, default=str,
            )
        top = None
        vi = self._vector_index()
        if vi is not None and not self._scan_serves(vi, self._probes(vi, nprobe, allowed, predicate_fp)):
            top = self.ivf_top(qdf, plan.fetch, nprobe, allowed, predicate_fp)
        hydrate = bool(set(plan.include) - {"distances"})
        if filtered is None and (top is None or hydrate):
            # unfiltered, the records are read only if the index cannot
            # rank or the winners need their fields
            filtered = self.filtered(flt)
        if top is None:
            cands = filtered.filter(F.col("embedding").isNotNull())
            top = exact_knn(cands, qdf, k=plan.fetch, space=self.meta.space)
        if not hydrate:
            return top
        # the top-k side is tiny — broadcast it as the BUILD side of an
        # inner join (winner ids are by construction a subset of the
        # filtered records, so inner == left, and a left join could not
        # broadcast its left/build side)
        return filtered.join(F.broadcast(top), "id", "inner")

    def sparse_knn(
        self, plan: KNNPlan, qdf: DataFrame, key: str, idf: bool,
        prune_buckets: bool | str, prune_threshold: int,
    ) -> DataFrame:
        """A sparse KNN plan over the query frame ``qdf`` ``(query_id,
        <key>)``: the top ``fetch`` per query ``(query_id, id, score)`` by
        (optionally IDF-scaled) dot product on column ``key``, served by
        the fresh term-bucket index (:meth:`sparse_indexes`) or by postings
        exploded from the records."""
        from .operators.sparse import sparse_dot_topk, sparse_index_topk

        specs = self.sparse_indexes(keys={key})
        if key in specs:
            postings, n_buckets, n_docs = specs[key]
            every_bucket = list(range(n_buckets))
            query_indices = None if prune_buckets else every_bucket
            if prune_buckets == "auto":
                # one bounded probe (<= prune_threshold + 1 query rows reach
                # the driver): a small batch's vocabulary comes from it
                # directly, with no separate distinct-terms job
                probe = qdf.select(F.col(key)["indices"]).limit(prune_threshold + 1).collect()
                query_indices = (
                    sorted({int(i) for r in probe for i in r[0] or ()})
                    if len(probe) <= prune_threshold
                    else every_bucket
                )
            return sparse_index_topk(
                postings,
                qdf,
                k=plan.fetch,
                n_buckets=n_buckets,
                sparse_col=key,
                idf=idf,
                n_docs=n_docs,
                query_indices=query_indices,
            )
        records = self.records({key: SPARSE_VECTOR_TYPE})
        return sparse_dot_topk(
            records.filter(F.col(key).isNotNull()), qdf, plan.fetch, sparse_col=key, idf=idf
        )

    def search(self, plan: Search) -> DataFrame:
        """A Search plan: the filter stage keeps the candidates, the rank
        expression's ``$knn`` terms rank them, and the search operator
        groups, pages and hydrates the winners.

        The physical choice for sparse terms follows from the expression:
        a dense ``$knn`` term scans every candidate exactly, so sparse terms
        beside it score the same candidates per record (their IDF ``n`` the
        fresh sparse index's ``n_docs``, as on the index path) rather than
        reading the term-bucket index and merging the WAL tail into it. A
        rank of sparse terms only reads fresh sparse indexes
        (:meth:`sparse_indexes`), whose bucket pruning bounds the read."""
        import copy

        meta = self.meta
        rank, terms = copy.deepcopy(plan.rank), []
        collect_knn_terms(rank, terms)
        # every column a $knn term reads (sparse keys / alternate dense
        # vector keys); an empty collection's frame carries them too
        extra: dict[str, T.DataType] = {}
        for t in (t for t in terms if isinstance(t, dict)):
            if isinstance(t.get("query"), str):
                # string $knn queries embed client-side with the attached
                # embedding function (Collection.py:447-449 embeds text Knn
                # queries before the search payload ships)
                ef = self.col._embedding_function(meta)
                if ef is None:
                    raise CollectionError(
                        "string $knn query requires an attached embedding function"
                    )
                t["query"] = [float(x) for x in ef([t["query"]])[0]]
            if isinstance(t.get("query"), dict):
                extra[str(t.get("key", "sparse")).lstrip("#")] = SPARSE_VECTOR_TYPE
            else:
                extra[str(t.get("key") or "#embedding").lstrip("#")] = T.ArrayType(T.FloatType())
        records = self.records(extra)
        sparse_keys = {k for k, t in extra.items() if t == SPARSE_VECTOR_TYPE}
        sparse_index, n_docs = {}, {}
        if len(sparse_keys) == len(extra):
            sparse_index = self.sparse_indexes(keys=sparse_keys)
        else:
            n_docs = {k: float(si["n_docs"]) for k, si in self._fresh_sparse(sparse_keys).items()}
        return search_op(
            records,
            candidates=self.filtered(Filter(where=plan.where, where_document=plan.where_document), extra),
            rank=rank,
            group_by=plan.group_by,
            offset=plan.limit.offset,
            limit=plan.limit.limit,
            select=plan.select,
            default_space=meta.space,
            offset_col="offset_id" if "offset_id" in records.columns else None,
            sparse_index=sparse_index,
            sparse_n_docs=n_docs,
        )


class Collection:
    def __init__(self, client: Client, name: str) -> None:
        self._client = client
        self._store = CollectionStore(client.spark, client.catalog, name)

    # ------------------------------------------------------------------
    # write surface
    # ------------------------------------------------------------------

    @property
    def name(self) -> str:
        return self._store.name.rsplit("/", 1)[-1]  # bare (unscoped) name

    @property
    def version(self) -> int:
        return self._store.meta.version

    @property
    def schema(self) -> Schema | None:
        return Schema.from_dict(self._store.meta.schema)

    def modify(self, name: str | None = None, metadata: dict | None = None) -> None:
        """Rename and/or replace the user metadata of the collection
        (Collection.modify in the reference client). Engine state lives in
        typed catalog fields, so the replacement cannot touch it; keys with
        the ``__`` prefix stay reserved and are rejected."""
        self._client._enforce(
            Action.UPDATE_COLLECTION,
            collection_name=name,
            metadatas=[metadata] if metadata else None,
        )
        if metadata is not None:
            reserved = sorted(str(k) for k in metadata if str(k).startswith("__"))
            if reserved:
                raise CollectionError(
                    f"metadata keys starting with '__' are reserved for the engine: {reserved}"
                )

            self._store.catalog.mutate(
                self._store.name, lambda m: setattr(m, "metadata", dict(metadata))
            )
        if name is not None and name != self.name:
            new_scoped = self._client._scoped(name)
            self._store.catalog.rename(
                self._store.name, new_scoped,
                precondition=self._client._guard_not_function_input(self.name),
            )
            self._store.name = new_scoped

    def update_schema(self, schema: Schema) -> None:
        """Persist a modified index configuration (Schema.create_index /
        delete_index mutate a copy; this registers it, the `register`
        operator analog)."""
        def _set(m):
            m.schema = schema.to_dict()

        self._store.catalog.mutate(self._store.name, _set)

    def _validate_indexed(
        self, meta: CollectionMeta, where, where_document, knn: bool = False, sparse: bool = False
    ) -> None:
        """Frontend filter gate: payload validation first (malformed
        operators/values reject BEFORE execution, even against an empty
        collection — the reference validates at the frontend), then the
        index gate (service_based_frontend.rs:2813-2819: reject queries
        touching keys whose index is disabled)."""
        from .where import validate_payloads

        validate_payloads(where, where_document)
        s = Schema.from_dict(meta.schema)
        if s is None:
            return
        s.validate_where(where)
        s.validate_where_document(where_document)
        if knn:
            s.validate_knn(sparse=sparse)

    @staticmethod
    def _embedding_function(meta: CollectionMeta):
        cfg = meta.config.get("embedding_function")
        if cfg is None:
            return None
        from .functions.embedding import get_embedding_function

        return get_embedding_function(cfg["name"], **cfg.get("kwargs", {}))

    @staticmethod
    def _sparse_embedding_function(meta: CollectionMeta, key: str | None = None):
        """(ef, key) for the collection's configured sparse EF (SPLADE-style
        learned-sparse or BM25), or (None, None). With ``key`` given,
        returns the EF only if it is configured for that sparse column."""
        cfg = meta.config.get("sparse_embedding_function")
        if cfg is None or (key is not None and cfg.get("key", "sparse") != key):
            return None, None
        from .functions.embedding import get_embedding_function

        return (
            get_embedding_function(cfg["name"], **cfg.get("kwargs", {})),
            cfg.get("key", "sparse"),
        )

    def _auto_embed(self, meta: CollectionMeta, embeddings, documents):
        """Client-side embedding of documents when the collection has an
        attached EF and no embeddings were passed (CollectionCommon
        _validate_and_prepare semantics)."""
        if embeddings is not None or documents is None:
            return embeddings
        ef = self._embedding_function(meta)
        return ef(list(documents)) if ef is not None else None

    def _auto_embed_sparse(self, meta: CollectionMeta, documents, metadatas):
        """Sparse twin of :meth:`_auto_embed`: when the collection has a
        configured sparse EF (SPLADE wire provider / BM25), populate its
        sparse key in each record's metadata from the document — unless the
        caller already supplied that key. Only the MISSING rows are
        embedded (a wire EF pays one HTTP batch per ~256 docs; re-embedding
        already-supplied rows would multiply that for nothing)."""
        sef, skey = self._sparse_embedding_function(meta)
        if sef is None or documents is None:
            return metadatas
        missing = [
            i for i in range(len(documents))
            if metadatas is None or skey not in (metadatas[i] or {})
        ]
        if not missing:
            return metadatas
        svs = dict(zip(missing, sef([documents[i] for i in missing])))
        out = []
        for i in range(len(documents)):
            md = dict(metadatas[i] or {}) if metadatas is not None else {}
            if i in svs:
                md[skey] = {k: v for k, v in svs[i].items() if v is not None}
            out.append(md)
        return out

    def add(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> None:
        """Insert records; duplicate ids (already present) are an error
        (Collection.py:96 contract).

        The dup check is a broadcast semi-join of the incoming id batch
        against the snapshot — only the (<= 5) offending ids ever reach the
        driver, so add() scales to any collection size."""
        self._client._enforce(
            Action.ADD, ids=ids, embeddings=embeddings, documents=documents,
            uris=uris, metadatas=metadatas,
        )
        meta = self._store.meta
        snap = _ReadView.resolve(self._store, meta).records
        if snap is not None:
            ids_df = local_frame(self._client.spark, [(str(i),) for i in ids], "id STRING")
            dup = [
                r["id"]
                for r in snap.select("id")
                .join(F.broadcast(ids_df), "id", "semi")
                .limit(5)
                .collect()
            ]
            if dup:
                raise CollectionError(f"duplicate ids in add: {sorted(dup)}")
        self._append("ADD", meta, ids, embeddings, documents, uris, metadatas)

    _BULK_META_TYPES = (
        T.BooleanType,
        T.LongType,
        T.DoubleType,
        T.StringType,
        T.IntegerType,
        T.FloatType,
    )

    def add_records(self, records: DataFrame, op: str = "ADD", order_by=None) -> int:
        """Distributed bulk ingest: append a whole DataFrame of records to
        the WAL with NO driver-side row materialization — the 100-TB ingest
        path (``add()`` mirrors the reference's list-based client API; this
        is the Spark-native source for pipelines feeding from
        JSONL/parquet/streams).

        ``records`` columns: ``id`` (required, cast to string); optional
        ``embedding ARRAY<FLOAT>``, ``document STRING``, ``uri STRING``;
        every other column is a metadata key typed by its Spark type
        (bool/long/double/string, arrays thereof, SparseVector struct).
        When the collection has an attached embedding function and no
        embedding column is given, documents embed through the Arrow
        pandas-UDF path inside the same write.

        Scale shape: one distributed semi-join dup check (ADD only, <= 5
        offending ids reach the driver), seq ids from
        ``monotonically_increasing_id`` offset by the log cursor (unique
        and order-stable per partition — pagination order WITHIN one bulk
        batch follows partition order), one parquet append, one MAX
        aggregate over the written fragment to advance the cursor.

        Duplicate ids WITHIN one batch are rejected for every op unless
        ``order_by`` (a column name or list of names) is given: with it,
        rows are hash-repartitioned by id and sorted by ``(id, *order_by)``
        within partitions before seq ids are assigned, so the LAST row in
        ``order_by`` order deterministically wins the per-id WAL fold —
        reproducible across runs and cluster sizes (without it, which
        duplicate won would depend on partition layout)."""
        if op not in ("ADD", "UPDATE", "UPSERT"):
            raise CollectionError(f"add_records op must be ADD/UPDATE/UPSERT, got {op!r}")
        if "id" not in records.columns:
            raise CollectionError("add_records needs an 'id' column")
        for reserved in ("seq_id", "op", "where_json", "offset_id"):
            if reserved in records.columns:
                raise CollectionError(f"column name {reserved!r} is reserved")
        meta = self._store.meta
        df = records.withColumn("id", F.col("id").cast("string"))
        if "embedding" not in df.columns and "document" in df.columns:
            ef = self._embedding_function(meta)
            if ef is not None:
                df = df.withColumn("embedding", ef.embed_column(F.col("document")).cast("array<float>"))
        if "embedding" in df.columns:
            df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
        from .sparse_vector import SPARSE_VECTOR_TYPE, sparse_vector_ok

        sef, skey = self._sparse_embedding_function(meta)
        if sef is not None and skey not in df.columns and "document" in df.columns:
            # sparse auto-embed: prefer the EF's DataFrame-level form (it
            # materializes shared intermediates as real columns — O(tokens)
            # per row, all-JVM, already in the canonical SparseVector
            # type); Arrow-UDF providers land on the same type via the
            # normalizer below
            embed_df = getattr(sef, "embed_df", None)
            if embed_df is not None:
                df = embed_df(df, "document", skey)
            else:
                df = df.withColumn(skey, sef.embed_column(F.col("document")))
            t = df.schema[skey].dataType
            if t.simpleString() != SPARSE_VECTOR_TYPE.simpleString():
                # providers that omit labels / use wider ints still land in
                # the canonical SparseVector column type (the final cast
                # also normalizes expression-derived nullability flags)
                df = df.withColumn(
                    skey,
                    F.struct(
                        F.col(skey)["indices"].cast("array<int>").alias("indices"),
                        F.col(skey)["values"].cast("array<float>").alias("values"),
                        F.lit(None).cast("array<string>").alias("labels"),
                    ).cast(SPARSE_VECTOR_TYPE),
                )
        for f in df.schema.fields:
            if f.name in ("id", "embedding", "document", "uri"):
                continue
            t = f.dataType
            ok = (
                isinstance(t, self._BULK_META_TYPES)
                or (isinstance(t, T.ArrayType) and isinstance(t.elementType, self._BULK_META_TYPES))
                # nullability-tolerant: expression-built structs carry
                # containsNull/nullable flags strict equality would reject
                or t.simpleString() == SPARSE_VECTOR_TYPE.simpleString()
            )
            if not ok:
                raise CollectionError(
                    f"unsupported metadata column type {t.simpleString()} for key {f.name!r}"
                )
        if order_by is not None and op != "ADD":
            order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
            missing = [c for c in order_cols if c not in df.columns]
            if missing:
                raise CollectionError(f"order_by columns not in records: {missing}")
            # All rows of an id land in one partition, sorted by order_by, so
            # per-partition-ascending monotonically_increasing_id makes the
            # order_by-last row the per-id seq winner — deterministically.
            df = df.repartition(F.col("id")).sortWithinPartitions("id", *order_cols)
        else:
            dup_in = [
                r["id"]
                for r in df.groupBy("id").count().filter(F.col("count") > 1).limit(5).collect()
            ]
            if dup_in:
                raise CollectionError(
                    f"duplicate ids within add_records batch: {sorted(dup_in)} "
                    "(pass order_by=<col> to resolve duplicates deterministically)"
                )
        if op == "ADD":
            snap = _ReadView(self._store, meta).records
            if snap is not None:
                dup = [
                    r["id"]
                    for r in snap.select("id").join(df.select("id"), "id", "semi").limit(5).collect()
                ]
                if dup:
                    raise CollectionError(f"duplicate ids in add_records: {sorted(dup)}")
        log_df = df.withColumn(
            "seq_id", (F.lit(int(meta.log_position)) + F.monotonically_increasing_id()).cast("long")
        ).withColumn("op", F.lit(op))
        for c in ("embedding", "document", "uri"):
            if c not in log_df.columns:
                typ = "array<float>" if c == "embedding" else "string"
                log_df = log_df.withColumn(c, F.lit(None).cast(typ))
        front = ["seq_id", "op", "id", "embedding", "document", "uri"]
        log_df = log_df.select(*front, *[c for c in log_df.columns if c not in front])
        path = self._store.append_log(log_df)
        # validate dimensions and SparseVectors on the WRITTEN fragment (one
        # narrow scan that shares the cursor read) so an attached EF's
        # pandas UDF is not evaluated twice; a failed check leaves the
        # fragment unreferenced
        written = self._client.spark.read.parquet(path)
        sparse_cols = [
            f.name for f in written.schema.fields
            if f.dataType.simpleString() == SPARSE_VECTOR_TYPE.simpleString()
        ]
        row = written.agg(
            F.max("seq_id").alias("m"),
            F.count("*").alias("n"),
            F.collect_set(F.size("embedding")).alias("dims"),
            *[F.count(F.when(~sparse_vector_ok(F.col(c)), 1)) for c in sparse_cols],
        ).first()
        bad = [c for c, n_bad in zip(sparse_cols, row[3:]) if n_bad]
        if bad:
            raise CollectionError(
                f"sparse vector column(s) {bad}: indices must be non-negative and strictly"
                " ascending, one value each"
            )
        dims = [int(d) for d in (row["dims"] or []) if d is not None and d >= 0]
        if dims:
            if meta.dimension is None and len(dims) == 1:
                meta.dimension = dims[0]
            elif set(dims) != {meta.dimension}:
                raise CollectionError(
                    f"embedding dimension {sorted(dims)} != collection dimension {meta.dimension}"
                )
        self._commit_log_append(
            path,
            base_pos=int(meta.log_position),
            max_seq=int(row["m"]) if row["m"] is not None else None,
            dimension_hint=meta.dimension,
        )
        return int(row["n"])

    def add_files(
        self, path: str, format: str = "jsonl", op: str = "ADD", order_by=None, **reader_kwargs
    ) -> int:
        """Ingest a file corpus (JSONL / CSV / text directory, glob, or
        single file) as ONE distributed ``add_records`` write — the loader
        loop every reference user hand-rolls around client ``add()``
        batches (`chromadb/api/models/Collection.py:81`), collapsed into a
        single plan: read -> canonicalize -> (auto-embed) -> WAL append.
        ``reader_kwargs`` pass through to the format's reader in
        ``sources/files.py`` (``schema`` matters at scale — see there)."""
        from .sources.files import (
            read_documents_csv,
            read_documents_jsonl,
            read_documents_text,
        )

        readers = {
            "jsonl": read_documents_jsonl,
            "json": read_documents_jsonl,
            "csv": read_documents_csv,
            "text": read_documents_text,
        }
        if format not in readers:
            raise CollectionError(f"add_files format must be one of {sorted(readers)}")
        records = readers[format](self._client.spark, path, **reader_kwargs)
        return self.add_records(records, op=op, order_by=order_by)

    def export_files(
        self,
        path: str,
        format: str = "jsonl",
        include: Sequence[str] = ("documents", "metadatas"),
        where: dict | None = None,
        where_document: dict | None = None,
        shards: int | None = None,
        mode: str = "error",
    ) -> int:
        """Export the collection (optionally filtered/projected) as sharded
        JSONL — the interchange shape downstream tokenizer/training jobs
        read, and the inverse of :meth:`add_files`. Returns rows written.
        One distributed write; ``shards`` controls output file count (gz
        shards are non-splittable on re-read, so pick ~0.1-1 GB each)."""
        from .sources.files import write_documents_jsonl

        if format not in ("jsonl", "json"):
            raise CollectionError("export_files supports format='jsonl'")
        ex = self._read()
        self._validate_indexed(ex.meta, where, where_document)
        if ex.view.records is None:
            raise CollectionError("nothing to export: collection is empty")
        snap = ex.filtered(Filter(where=where, where_document=where_document))
        drop = {"embeddings": "embedding", "documents": "document", "uris": "uri"}
        hidden = {v for k, v in drop.items() if k not in include}
        hidden |= {"seq_id", "op", "where_json", "offset_id"}
        out = snap.drop(*hidden)
        if shards is not None:
            out = out.repartition(int(shards))
        # Count via Observation on the write job itself — one distributed
        # write, no re-read of the output (which would add two inference
        # scans and, with mode='append', count pre-existing rows too).
        from pyspark.sql import Observation

        obs = Observation("export_files")
        write_documents_jsonl(out.observe(obs, F.count(F.lit(1)).alias("n")), path, mode=mode)
        return int(obs.get["n"])

    def delete_records(self, ids: DataFrame) -> int:
        """Bulk delete by a DataFrame of ids — the distributed twin of
        ``delete(ids=[...])`` for pipeline-scale removals (e.g. the output
        of a dedup or decontamination pass anti-joined into the corpus).
        One DELETE log row per id, appended with no driver-side rows;
        returns the number of delete records written."""
        if "id" not in ids.columns:
            raise CollectionError("delete_records needs an 'id' column")
        meta = self._store.meta
        log_df = (
            ids.select(F.col("id").cast("string").alias("id"))
            .distinct()
            .withColumn(
                "seq_id",
                (F.lit(int(meta.log_position)) + F.monotonically_increasing_id()).cast("long"),
            )
            .withColumn("op", F.lit("DELETE"))
            .withColumn("embedding", F.lit(None).cast("array<float>"))
            .withColumn("document", F.lit(None).cast("string"))
            .withColumn("uri", F.lit(None).cast("string"))
            .select("seq_id", "op", "id", "embedding", "document", "uri")
        )
        path = self._store.append_log(log_df)
        written = self._client.spark.read.parquet(path)
        row = written.agg(F.max("seq_id").alias("m"), F.count("*").alias("n")).first()
        self._commit_log_append(
            path,
            base_pos=int(meta.log_position),
            max_seq=int(row["m"]) if row["m"] is not None else None,
        )
        return int(row["n"])

    def update(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> None:
        self._client._enforce(
            Action.UPDATE, ids=ids, embeddings=embeddings, documents=documents,
            uris=uris, metadatas=metadatas,
        )
        self._append("UPDATE", self._store.meta, ids, embeddings, documents, uris, metadatas)

    def upsert(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> None:
        self._client._enforce(
            Action.UPSERT, ids=ids, embeddings=embeddings, documents=documents,
            uris=uris, metadatas=metadatas,
        )
        self._append("UPSERT", self._store.meta, ids, embeddings, documents, uris, metadatas)

    def delete(self, ids=None, where=None, where_document=None) -> None:
        """Delete by ids and/or predicates. A no-argument delete() raises —
        the reference errors rather than wiping the collection
        (chromadb/api/models/Collection.py:559-581).

        Predicate deletes append ONE DELETE_WHERE log record carrying the
        predicate (the reference stores the predicate, not the matched-id
        expansion); materialization cuts the log at its seq and drops the
        matching records there, in the JVM — no driver-side id collection
        at any collection size."""
        if ids is None and where is None and where_document is None:
            raise CollectionError("delete() requires ids, where, or where_document")
        self._client._enforce(
            Action.DELETE, ids=ids, where=where, where_document=where_document
        )
        if where is None and where_document is None:
            self._append("DELETE", self._store.meta, ids, None, None, None, None)
            return
        self._append_delete_where(ids, where, where_document)

    def _commit_log_append(
        self,
        path: str,
        base_pos: int,
        max_seq: int | None,
        dimension_hint: int | None = None,
    ) -> None:
        """CAS-register a written WAL fragment: append its path and advance
        the log cursor in ONE catalog commit that re-checks the cursor
        against FRESH state (wal3's log-position CAS). If another process
        advanced the cursor since ``base_pos``, this fragment's seq ids
        could collide with the winner's, so the fragment is rewritten with
        seqs shifted onto the fresh cursor and the CAS retried — O(batch)
        per contention round, zero cost uncontended. Seq ranges therefore
        never overlap across writers and WAL order linearizes with catalog
        commit order."""
        expect_pos = getattr(self, "_txn_expect_pos", None)
        self._txn_expect_pos = None
        while True:
            def fn(m):
                if m.log_position != base_pos or (
                    expect_pos is not None and m.log_position != expect_pos
                ):
                    raise _LogCursorMoved(m.log_position)
                if dimension_hint is not None:
                    if m.dimension is None:
                        m.dimension = dimension_hint
                    elif m.dimension != dimension_hint:
                        raise CollectionError(
                            f"embedding dimension {dimension_hint} != collection "
                            f"dimension {m.dimension}"
                        )
                m.log_paths = [*m.log_paths, path]
                if max_seq is not None:
                    m.log_position = max_seq + 1

            try:
                self._store.catalog.mutate(self._store.name, fn)
                return
            except _LogCursorMoved as moved:
                if expect_pos is not None:
                    # transactional append: the conflict check validated at
                    # expect_pos — a moved cursor means unvalidated foreign
                    # writes; the caller re-validates rather than re-basing
                    import shutil

                    shutil.rmtree(path, ignore_errors=True)
                    raise _TxnCursorMoved() from None
                delta = moved.fresh_pos - base_pos
                path = self._shift_log_fragment(path, delta)
                if max_seq is not None:
                    max_seq += delta
                base_pos = moved.fresh_pos

    def _shift_log_fragment(self, path: str, delta: int) -> str:
        """Rewrite one WAL fragment with seq ids shifted by ``delta`` into
        a new unique dir (append-only stores never rewrite in place); the
        superseded dir is removed. Cost is one fragment, not the log."""
        import shutil

        df = self._client.spark.read.parquet(path).withColumn(
            "seq_id", (F.col("seq_id") + F.lit(int(delta))).cast("long")
        )
        new_path = self._store.append_log(df)
        shutil.rmtree(path, ignore_errors=True)
        return new_path

    def _append_delete_where(self, ids, where, where_document) -> None:
        import json as _json

        from .where import where_doc_to_sql, where_to_sql

        # grammar validation at write time (the reference's frontend rejects
        # malformed plans before they reach the log)
        if where is not None:
            where_to_sql(where)
        if where_document is not None:
            where_doc_to_sql(where_document)
        meta = self._store.meta
        payload = _json.dumps(
            {
                "ids": [str(i) for i in ids] if ids is not None else None,
                "where": where,
                "where_document": where_document,
            }
        )
        schema = T.StructType(
            [
                T.StructField("seq_id", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("id", T.StringType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("document", T.StringType()),
                T.StructField("uri", T.StringType()),
                T.StructField("where_json", T.StringType()),
            ]
        )
        df = local_frame(
            self._client.spark,
            [(meta.log_position, WHERE_OP, None, None, None, None, payload)],
            schema,
        )
        path = self._store.append_log(df)
        self._commit_log_append(path, base_pos=int(meta.log_position), max_seq=int(meta.log_position))

    def _append(self, op, meta: CollectionMeta, ids, embeddings, documents, uris, metadatas) -> None:
        ids = [str(i) for i in ids]
        n = len(ids)
        cap = self._client.get_max_batch_size()
        if n > cap:
            # list-typed writes materialize on the driver; the reference
            # raises the same way (utils/batch_utils.py) — DataFrame ingest
            # via add_records is the unbounded path
            raise CollectionError(
                f"batch of {n} exceeds get_max_batch_size()={cap}; "
                "use add_records(DataFrame) for bulk ingest"
            )
        embeddings = self._auto_embed(meta, embeddings, documents)
        metadatas = self._auto_embed_sparse(meta, documents, metadatas)
        if embeddings is not None:
            dims = {len(e) for e in embeddings if e is not None}
            if meta.dimension is None and dims:
                meta.dimension = dims.pop()
                if dims:
                    raise CollectionError("inconsistent embedding dimensions")
            elif dims and dims != {meta.dimension}:
                raise CollectionError(
                    f"embedding dimension {dims} != collection dimension {meta.dimension}"
                )

        def _col(vals, i):
            return None if vals is None else vals[i]

        from .sparse_vector import SPARSE_VECTOR_TYPE, validate_sparse_vector

        def _scalar_type(x, ctx):
            if isinstance(x, bool):
                return bool
            if isinstance(x, int):
                return int
            if isinstance(x, float):
                return float
            if isinstance(x, str):
                return str
            raise CollectionError(f"unsupported metadata value {x!r} in {ctx}")

        def _vtype(k, v):
            """Value type tag: a scalar type, ("array", elem), or "sparse"
            (reference MetadataValue incl. Bool/Int/Float/StringArray,
            rust/types/src/metadata.rs:659-682)."""
            if isinstance(v, dict):
                validate_sparse_vector(v)
                return "sparse"
            if isinstance(v, list):
                elem = None  # None = empty array, adopts the column's type
                for x in v:
                    t = _scalar_type(x, f"array key {k!r}")
                    if elem is None or elem is t:
                        elem = t
                    elif {elem, t} == {int, float}:
                        elem = float  # mixed-numeric arrays coerce (metadata.rs:709-712)
                    else:
                        raise CollectionError(
                            f"mixed element types in array metadata key {k!r}"
                        )
                return ("array", elem)
            return _scalar_type(v, f"key {k!r}")

        def _promote(prev, cur, k):
            if prev is None or prev == cur:
                return cur
            if {prev, cur} == {int, float}:
                return float
            if (
                isinstance(prev, tuple)
                and isinstance(cur, tuple)
                and prev[0] == cur[0] == "array"
            ):
                a, b = prev[1], cur[1]
                if a is None:
                    return cur
                if b is None or a is b:
                    return prev
                if {a, b} == {int, float}:
                    return ("array", float)
            raise CollectionError(
                f"mixed types for metadata key {k!r}: {prev} vs {cur}"
            )

        rows = []
        meta_keys: dict[str, object] = {}
        for m in metadatas or []:
            for k, v in (m or {}).items():
                meta_keys[k] = _promote(meta_keys.get(k), _vtype(k, v), k)
        for k, t in list(meta_keys.items()):
            if t == ("array", None):
                meta_keys[k] = ("array", str)  # only-empty arrays: string

        def _coerce(v, t):
            if v is None:
                return None
            if t is float and isinstance(v, int) and not isinstance(v, bool):
                return float(v)
            if t == "sparse":
                return {
                    "indices": [int(i) for i in v["indices"]],
                    "values": [float(x) for x in v["values"]],
                    "labels": list(v["labels"]) if v.get("labels") is not None else None,
                }
            if isinstance(t, tuple):
                if t[1] is float:
                    return [float(x) for x in v]
                return list(v)
            return v

        for i in range(n):
            m = _col(metadatas, i) or {}
            emb = _col(embeddings, i)
            rows.append(
                (
                    meta.log_position + i,
                    op,
                    ids[i],
                    [float(x) for x in emb] if emb is not None else None,
                    _col(documents, i),
                    _col(uris, i),
                    *(_coerce(m.get(k), t) for k, t in meta_keys.items()),
                )
            )
        fields = [
            T.StructField("seq_id", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("document", T.StringType()),
            T.StructField("uri", T.StringType()),
        ]
        for k, t in meta_keys.items():
            if t == "sparse":
                fields.append(T.StructField(k, SPARSE_VECTOR_TYPE))
            elif isinstance(t, tuple):
                fields.append(T.StructField(k, T.ArrayType(_META_SPARK_TYPES[t[1]])))
            elif t in _META_SPARK_TYPES:
                fields.append(T.StructField(k, _META_SPARK_TYPES[t]))
            else:
                raise CollectionError(f"unsupported metadata type {t!r} for key {k!r}")
        df = local_frame(self._client.spark, rows, T.StructType(fields))
        path = self._store.append_log(df)
        self._commit_log_append(
            path,
            base_pos=int(meta.log_position),
            max_seq=int(meta.log_position) + n - 1 if n else None,
            dimension_hint=meta.dimension,
        )

    # ------------------------------------------------------------------
    # state assembly (ReadLevels) + compaction
    # ------------------------------------------------------------------

    def snapshot(
        self, read_level: str = "index_and_wal", log_bound: int | None = None
    ) -> DataFrame | None:
        """Materialized record state as a DataFrame (None when empty).

        ``read_level`` mirrors the reference's ReadLevel
        (``rust/types/src/execution/plan.rs:553``): ``index_only`` (base
        only), ``index_and_wal`` (base ∪ full log tail), or
        ``index_and_bounded_wal`` (base ∪ log where ``seq_id <= log_bound``
        — bounded-staleness reads; the frontend's log scouting picks the
        bound, ``service_based_frontend.rs:2833-2852``)."""
        return _ReadView.resolve(self._store, self._store.meta, read_level, log_bound).records

    @staticmethod
    def _predicate_matched_ids(base: DataFrame, where_ops: list[WhereOp]) -> DataFrame:
        """Base ids matched by any pending DELETE_WHERE, evaluated
        vectorized by the fold's own match rule (``where_op_matches``).
        Exact for ids the id-keyed tail never touches (their state at each
        predicate's seq IS base state); ids the tail does touch are
        collected separately by the callers, so the union is always a
        superset of the stale set — over-inclusion only routes an id
        through the bounded tail fold, never drops one."""
        cond = F.lit(False)
        for op in where_ops:
            cond = cond | where_op_matches(op, base.schema)
        return base.filter(cond).select("id")

    @staticmethod
    def _fold(base: DataFrame | None, log: DataFrame | None, where_ops: list[WhereOp]) -> DataFrame | None:
        if log is None:
            return base
        if base is None:
            return materialize(None, log, where_ops=where_ops)
        # give the log every base column (schema may have evolved); then
        # materialize() aligns the base side to the log's field set
        base_types = dict(base.dtypes)
        for c in base.columns:
            if c not in log.columns and c != "offset_id":
                log = log.withColumn(c, F.lit(None).cast(base_types[c]))
        return materialize(base, log, where_ops=where_ops)

    # -- attached functions (reference: chromadb/api/functions.py:21-28,
    # rust/worker/src/execution/functions/, run piggybacked on compaction
    # via execute_task.rs) ---------------------------------------------

    def attach_function(
        self, name: str, kind: str, inputs: list[str] | None = None, **params
    ) -> tuple[dict, bool]:
        """Persistently attach a derived computation; every subsequent
        ``compact()`` runs it against the new state / log batch and writes
        its output collection under ``fn_{name}/v{version}``.

        ``kind`` ∈ statistics | record_counter | revision_history |
        quality_score | lm_perplexity | bpe_vocab | union_record_counter
        (streaming/functions.py ``make_attached_function``); ``params``
        must be JSON-serializable — they're stored in the collection config
        exactly as the reference stores the function spec.

        ``inputs`` names ADDITIONAL input collections (same client scope)
        whose snapshots the function reads alongside this collection — the
        reference's multi-input attached functions
        (`/root/reference/chromadb/api/__init__.py:1031-1060`,
        attach_function + add_attached_function_input). Returns
        ``(spec, created)`` like the reference's ``(AttachedFunction,
        created)``; re-attaching an existing name updates its spec and
        returns ``created=False``."""
        from .streaming.functions import make_attached_function

        make_attached_function(name, kind, _input_states=[], **params)  # validate
        group_col = params.get("group_col")
        if group_col is not None:
            # fail at ATTACH time, not at the first compaction: the column
            # must exist on every already-written input (analysis-only —
            # snapshot() is lazy, .columns runs no job)
            snap = self.snapshot()
            if snap is not None and group_col not in snap.columns:
                raise CollectionError(
                    f"group_col {group_col!r} is not a column of this collection"
                )
        for other in inputs or []:
            self._client.catalog.get(self._client._scoped(other))  # must exist
            if group_col is not None:
                osnap = Collection(self._client, self._client._scoped(other)).snapshot()
                if osnap is not None and group_col not in osnap.columns:
                    raise CollectionError(
                        f"group_col {group_col!r} is not a column of input {other!r}"
                    )
        fns = self.list_functions()
        created = name not in fns
        self._client._enforce(
            Action.ATTACH_FUNCTION,
            collection_name=name,
            num_functions=len(fns) + (1 if created else 0),
        )
        spec = {"kind": kind, "params": params}
        if inputs:
            spec["inputs"] = list(inputs)

        def _set(m):
            m.config["functions"] = {**m.config.get("functions", {}), name: spec}

        self._store.catalog.mutate(self._store.name, _set)
        return {"name": name, **spec}, created

    def get_attached_function(self, name: str) -> dict:
        """Spec of one attached function (reference ``get_attached_function``,
        `/root/reference/chromadb/api/__init__.py:1062-1084`): name, kind,
        params, extra input collections, and the output versions written so
        far. Raises when no function carries the name."""
        import os as _os

        fns = self.list_functions()
        if name not in fns:
            raise CollectionError(f"attached function {name!r} does not exist")
        base = _os.path.join(self._store.catalog.root, self._store.name, f"fn_{name}")
        versions = sorted(
            int(d[1:]) for d in (_os.listdir(base) if _os.path.isdir(base) else [])
            if d.startswith("v") and d[1:].isdigit()
        )
        return {"name": name, **fns[name], "output_versions": versions}

    def add_attached_function_input(self, name: str, new_input: str) -> tuple[dict, bool]:
        """Add another input collection to an existing attached function —
        the reference's ``add_attached_function_input``
        (`/root/reference/chromadb/api/__init__.py:1086-1104`). Idempotent:
        returns ``(spec, created)`` with ``created=False`` when the input
        is already associated. The function re-resolves its inputs' LATEST
        snapshots at every compaction, so the new input participates from
        the next ``compact()`` on."""
        self._client.catalog.get(self._client._scoped(new_input))  # must exist
        out: dict = {}

        def _add(m):
            fns = dict(m.config.get("functions", {}))
            if name not in fns:
                raise CollectionError(f"attached function {name!r} does not exist")
            spec = dict(fns[name])
            cur = list(spec.get("inputs", []))
            out["created"] = new_input not in cur
            if out["created"]:
                spec["inputs"] = [*cur, new_input]
                fns[name] = spec
                m.config["functions"] = fns
            out["spec"] = spec

        self._store.catalog.mutate(self._store.name, _add)
        return {"name": name, **out["spec"]}, out["created"]

    def detach_function(self, name: str, delete_output: bool = False) -> bool:
        """Detach and stop future runs; ``delete_output=True`` also removes
        every written output version (the reference's ``detach_function``
        flag, `/root/reference/chromadb/api/__init__.py:1106-1127`).
        Returns True on success, mirroring the reference."""

        def _del(m):
            fns = dict(m.config.get("functions", {}))
            if name not in fns:
                raise CollectionError(f"attached function {name!r} does not exist")
            del fns[name]
            m.config["functions"] = fns

        self._store.catalog.mutate(self._store.name, _del)
        if delete_output:
            import os as _os
            import shutil as _shutil

            base = _os.path.join(self._store.catalog.root, self._store.name, f"fn_{name}")
            _shutil.rmtree(base, ignore_errors=True)
        return True

    def list_functions(self) -> dict[str, dict]:
        return dict(self._store.meta.config.get("functions", {}))

    def _attached_functions(self, meta: CollectionMeta) -> list:
        from .streaming.functions import make_attached_function

        out = []
        for n, spec in sorted(meta.config.get("functions", {}).items()):
            # multi-input functions read the LATEST snapshot of each extra
            # input collection at run (compaction) time
            states = [
                Collection(self._client, self._client._scoped(other)).snapshot()
                for other in spec.get("inputs", [])
            ]
            out.append(
                make_attached_function(
                    n, spec["kind"], _input_states=states, **spec.get("params", {})
                )
            )
        return out

    def read_function_output(self, name: str, version: int | None = None) -> DataFrame:
        """Latest (or pinned-version) output collection of an attached
        function."""
        import os as _os

        base = _os.path.join(self._store.catalog.root, self._store.name, f"fn_{name}")
        if version is None:
            versions = [
                int(d[1:]) for d in (_os.listdir(base) if _os.path.isdir(base) else [])
                if d.startswith("v") and d[1:].isdigit()
            ]
            if not versions:
                raise CollectionError(f"function {name!r} has no output yet")
            version = max(versions)
        return self._client.spark.read.parquet(_os.path.join(base, f"v{version}"))

    def compact(self, attached: list | None = None) -> int:
        """Fold the WAL into a new base version; returns the new version.

        ``attached`` — AttachedFunction list (streaming/compactor.py) run
        piggybacked on the compaction exactly as the reference's
        execute_task.rs: each gets (new state, raw log batch) and its
        output lands under the collection dir as the derived "output
        collection" (`fn_{name}/v{version}`).

        Every registered index is flushed for the new version in the same
        compaction (the reference's compaction writes each segment's index
        as part of the flush, SURVEY §3.3), so index reads never go stale
        across compactions; see :meth:`_maintain_indexes`.

        Single-compactor-per-collection: an advisory lockfile serializes
        compaction ACROSS PROCESSES (the reference assigns one compaction
        owner per collection; two unserialized compactors here would both
        write the same base_v{N+1} dir before either registers, and the
        loser's overwrite could corrupt the winner's registered files).
        The version CAS at register stays as the correctness backstop; a
        crashed owner's stale lock is taken over after LOCK_STALE_SECONDS.
        """
        with self._compaction_lock():
            return self._compact_locked(attached)

    LOCK_STALE_SECONDS = 600.0

    def _compaction_lock(self):
        import contextlib
        import os as _os
        import time as _time

        lock_path = _os.path.join(
            self._store.catalog.root, self._store.name, ".compact.lock"
        )

        @contextlib.contextmanager
        def _lock():
            _os.makedirs(_os.path.dirname(lock_path), exist_ok=True)
            while True:
                try:
                    fd = _os.open(lock_path, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
                    _os.write(fd, f"{_os.getpid()} {_time.time()}".encode())
                    _os.close(fd)
                    break
                except FileExistsError:
                    try:
                        age = _time.time() - _os.path.getmtime(lock_path)
                    except OSError:
                        continue  # released between open and stat; retry
                    if age > self.LOCK_STALE_SECONDS:
                        # crashed owner: steal (unlink may race another
                        # stealer — the O_EXCL retry arbitrates)
                        try:
                            _os.unlink(lock_path)
                        except OSError:
                            pass
                        continue
                    raise CollectionError(
                        f"another process is compacting {self.name!r} "
                        f"(lock {lock_path}, {age:.0f}s old)"
                    )
            try:
                yield
            finally:
                try:
                    _os.unlink(lock_path)
                except OSError:
                    pass

        return _lock()

    def _compact_locked(self, attached: list | None) -> int:
        # pin the fold's inputs ONCE: the fold, the attached functions, the
        # register and the index maintenance below all derive from this one
        # catalog state, so a concurrent writer's fragment is never
        # half-included (it either commits its path before this read —
        # folded — or survives in the kept tail)
        meta = self._store.meta
        consumed_logs = list(meta.log_paths)
        # resolve attached functions (and their extra input collections'
        # snapshots) BEFORE any write: a missing/broken input fails the
        # compaction cleanly here instead of after the new base is on disk
        attached = [*self._attached_functions(meta), *(attached or [])]
        # a resident view of the pinned state writes its persisted records;
        # compaction never makes a state resident
        view = _ReadView.lookup(self._store, meta) or _ReadView(self._store, meta)
        snap = view.records
        if snap is None:
            return meta.version
        new_version = meta.version + 1
        path = self._store.write_base(snap, new_version)
        # persistently-attached functions always run; ad-hoc ones compose
        # (both resolved above, before the base write)
        if attached:
            log_batch = self._store.read_log(meta)
            state = self._client.spark.read.parquet(path)
            import os as _os

            for af in attached:
                out = af.fn(state, log_batch) if log_batch is not None else af.fn(state, state.limit(0))
                out.write.mode("overwrite").parquet(
                    _os.path.join(self._store.catalog.root, self._store.name, f"fn_{af.name}", f"v{new_version}")
                )
        # register: version CAS against FRESH state — a concurrent
        # compaction from another process loses cleanly instead of silently
        # clobbering, and WAL fragments appended since the pin survive in
        # the kept tail (their seqs are > every folded seq by the append CAS)
        consumed = set(consumed_logs)

        def _register(m):
            if m.version != meta.version:
                raise CollectionError(
                    f"concurrent compaction: version moved v{meta.version} -> "
                    f"v{m.version} during compact()"
                )
            m.version = new_version
            m.base_paths = [path]
            m.log_paths = [p for p in m.log_paths if p not in consumed]

        registered = self._store.catalog.mutate(self._store.name, _register)
        self._maintain_indexes(registered, view)
        return new_version

    def _maintain_indexes(self, meta: CollectionMeta, folded: _ReadView) -> None:
        """Flush every registered index for ``meta``, the state this
        compaction just registered, under layout.py's append-or-rebuild
        rule. One aggregate over the new base counts every index's docs;
        the touched ids of ``folded``, the state it folded
        (:attr:`_ReadView.touched`: the log's ids, plus the old-base ids a
        predicate delete matches), are counted once for all indexes; every
        new descriptor lands in one catalog commit. A rebuild builds from
        the registered base (it never compacts again);
        an index whose source column has no rows left is deregistered, and
        a vector index the schema declares (``n_lists``) is built here once
        vectors exist."""
        import os as _os

        from . import layout

        wanted = dict(meta.indexes)
        if "vector" not in wanted and self._schema_vector_config(meta).get("n_lists"):
            wanted["vector"] = {}
        if not wanted:
            return
        base = self._store.read_base(meta)
        stats = self._index_stats(base, wanted)
        own_dir = _os.path.join(self._store.catalog.root, self._store.name)
        replaced = meta.version - 1
        touched, n_touched = None, 0
        if folded.log is not None and any(
            layout.can_append(d, own_dir, replaced, 0) for d in wanted.values() if d
        ):
            touched = folded.touched
            n_touched = touched.count()
        out: dict[str, dict | None] = {}
        for name, desc in wanted.items():
            if not stats[name]:
                out[name] = None
            elif desc and layout.can_append(desc, own_dir, replaced, n_touched):
                if n_touched:
                    _kind, sub, part = _INDEX_SPECS[name.split(":")[0]]
                    layout.tombstone(desc, touched, meta.version)
                    src = self._index_source(name, desc)
                    todo = base.join(touched, "id", "semi").filter(F.col(src).isNotNull())
                    layout.append(desc, sub, self._index_rows(name, desc, todo), meta.version, part)
                out[name] = {
                    **desc,
                    "version": meta.version,
                    "epoch": meta.version,
                    "n_appended": int(desc.get("n_appended", 0)) + n_touched,
                }
            else:
                out[name] = self._build_index(name, meta, base, desc)
            if out[name] is not None:
                out[name]["n_docs"] = stats[name]
        self._set_indexes(out)

    def _set_indexes(self, descs: dict[str, dict | None]) -> None:
        """Register (or, for None, drop) index descriptors in one commit."""

        def _set(m):
            m.indexes = {k: v for k, v in {**m.indexes, **descs}.items() if v is not None}

        self._store.catalog.mutate(self._store.name, _set)

    @staticmethod
    def _index_source(name: str, desc: dict) -> str:
        """The base column index ``name`` is built from."""
        if name == "vector":
            return "embedding"
        return name.split(":", 1)[1] if name.startswith("sparse:") else desc["text_col"]

    def _index_stats(self, base: DataFrame | None, indexes: dict[str, dict]) -> dict[str, int]:
        """Docs each index covers in ``base``, all in one aggregate: rows
        with a non-null source value; for a sparse index, rows with at
        least one posting (its IDF denominator — the same count the
        unindexed scorer takes over its exploded postings)."""
        exprs = {}
        for name, desc in indexes.items():
            src = self._index_source(name, desc)
            if base is not None and src in base.columns:
                has = F.col(src).isNotNull()
                if name.startswith("sparse:"):
                    has = F.size(F.col(src)["indices"]) > 0
                exprs[name] = F.count(F.when(has, 1))
        got = {}
        if exprs:
            row = base.agg(*(e.alias(f"n{i}") for i, e in enumerate(exprs.values()))).first()
            got = dict(zip(exprs, row))
        return {name: int(got.get(name, 0)) for name in indexes}

    def _schema_vector_config(self, meta: CollectionMeta) -> dict:
        schema = Schema.from_dict(meta.schema)
        return (schema.index_config("vector_index", "#embedding") if schema else None) or {}

    def _build_registered(self, name: str, **params) -> dict:
        """The public build path: fold pending WAL entries first (a plain
        compaction, which also maintains every other index), so the index
        covers exactly one collection version; then build and register."""
        meta = self._store.meta
        if meta.log_paths:
            self.compact()
            meta = self._store.meta
        base = self._store.read_base(meta)
        desc = self._build_index(name, meta, base, params)
        desc["n_docs"] = self._index_stats(base, {name: desc})[name]
        self._set_indexes({name: desc})
        return desc

    def _build_index(self, name: str, meta: CollectionMeta, base: DataFrame | None, params: dict) -> dict:
        """Build index ``name`` over ``base`` into a fresh layout dir and
        return its descriptor (unregistered). ``params`` are the kind's
        build parameters — on a rebuild, the replaced descriptor."""
        if name == "vector":
            return self._build_vector(meta, base, **params)
        src = self._index_source(name, params)
        if base is None or src not in base.columns:
            raise CollectionError(f"no column {src!r} to index")
        desc = self._new_index(name, meta, **params)
        rows = self._index_rows(name, desc, base.filter(F.col(src).isNotNull()))
        return self._write_index(name, desc, rows)

    def _new_index(self, name: str, meta: CollectionMeta, **params) -> dict:
        """Descriptor of a fresh, empty layout dir for ``name`` at
        ``meta.version``."""
        import os as _os
        import shutil

        path = _os.path.join(
            self._store.catalog.root, self._store.name,
            f"index_{name.replace(':', '_')}", f"v{meta.version}",
        )
        # builds append into the layout: a second build at the same version
        # must not add to the first one's rows
        shutil.rmtree(path, ignore_errors=True)
        return {
            **params,
            "kind": _INDEX_SPECS[name.split(":")[0]][0],
            "path": path,
            "version": meta.version,
            "epoch": meta.version,
            "n_appended": 0,
        }

    def _write_index(self, name: str, desc: dict, rows: DataFrame) -> dict:
        from . import layout

        kind, sub, part = _INDEX_SPECS[name.split(":")[0]]
        layout.append(desc, sub, rows, desc["version"], part)
        layout.stamp_layout(desc["path"], kind)
        return desc

    def _index_rows(self, name: str, desc: dict, records: DataFrame) -> DataFrame:
        """Posting rows of ``records`` (rows with a non-null source value)
        under ``desc``'s parameters: a fresh build's rows and a maintenance
        delta alike. Vector rows are assigned to the TRAINED centroids and
        encoded with the trained quantizer (the initial build assigns and
        encodes while training, in :meth:`_build_vector`)."""
        import os as _os

        kind = name.split(":")[0]
        if kind == "sparse":
            from .operators.sparse import explode_postings

            return explode_postings(records, sparse_col=self._index_source(name, desc)).withColumn(
                "bucket", (F.col("idx") % int(desc["n_buckets"])).cast("int")
            )
        if kind == "fts":
            from .operators.fts import doc_trigram_postings

            return doc_trigram_postings(records, int(desc["n_buckets"]), text_col=desc["text_col"])
        if kind == "dedup":
            from .operators.dedup import minhash_bands, minhash_signatures

            text = F.col(desc["text_col"])
            docs = records.select("id", text.alias("document"), F.md5(text).alias("fp"))
            sigs = minhash_signatures(docs, desc["num_perm"], desc["n"], "document", "id")
            return minhash_bands(
                sigs, desc["bands"], desc["num_perm"] // desc["bands"], "id"
            ).join(docs.select("id", "fp"), "id")
        from .ann.ivf import assign_to_centroids

        centroids = self._client.spark.read.parquet(_os.path.join(desc["path"], "centroids"))
        rows = assign_to_centroids(
            records.select("id", "embedding"), centroids,
            replicas=int(desc.get("replicas", 2)), method="arrow",
        )
        if desc.get("quantized"):
            _search, codec, encode, _rerank = _CODED_IVF[desc["quantized"]]
            rows = encode(rows, codec(self, desc))
        return rows

    def build_vector_index(
        self,
        n_lists: int | None = None,
        replicas: int = 2,
        quantized: bool | str | None = None,
        rerank_factor: int | None = None,
    ) -> dict:
        """Build + register the SPANN/IVF-style vector index for the
        current version (the vector-segment write of the reference's
        compaction: ``apply/commit/flush`` then ``register``). Pending WAL
        entries are compacted first so the index corresponds to exactly one
        collection version; a ``query()`` probing fewer lists than
        ``n_lists`` (``nprobe``), or any query of a quantized tier, then
        serves from the index and brute-forces only the WAL tail written
        after the build (merged via knn_merge,
        ``operators/knn_merge.rs:43``). An unquantized index probed in
        full (``nprobe=None``) is served by the exact scan instead.

        ``quantized`` picks the code tier, mirroring the reference's
        1-bit..multi-bit RaBitQ spectrum (rust/index/src/quantization/
        mod.rs): ``"sign"``/``True`` packs sign-bit codes (Hamming
        prefilter; rerank_factor defaults to 24), ``"sq4"`` packs 4-bit
        scalar codes with per-dim corrective (lo, step) (ADC prefilter;
        rerank_factor defaults to 4), ``"pq"`` trains product-quantization
        codebooks (dim/8 subspaces, 256 codes each — m bytes/vector; LUT
        ADC prefilter; rerank_factor defaults to 8). PQ codebooks persist
        beside the layout (``pq_books.json``), not in the catalog."""
        return self._build_registered(
            "vector", n_lists=n_lists, replicas=replicas, quantized=quantized,
            rerank_factor=rerank_factor,
        )

    def _build_vector(
        self,
        meta: CollectionMeta,
        base: DataFrame | None,
        n_lists: int | None = None,
        replicas: int = 2,
        quantized: bool | str | None = None,
        rerank_factor: int | None = None,
        **_,
    ) -> dict:
        """Train centroids (and the quantizer tier) and write the IVF
        layout; the descriptor keeps what deltas need to append without
        retraining: centroids on disk, ``means`` / ``sq4_lo``+``sq4_step``
        / PQ books beside the layout."""
        import os as _os

        from .ann.ivf import build_ivf

        if base is None:
            raise CollectionError("cannot index an empty collection")
        records = base.filter(F.col("embedding").isNotNull()).select("id", "embedding")
        cfg = self._schema_vector_config(meta)
        n_lists = int(n_lists or cfg.get("n_lists", 16))
        if quantized is None:
            quantized = cfg.get("quantized", False)
        if quantized is True:
            quantized = "sign"
        if quantized not in (False, "sign", "sq4", "pq"):
            raise CollectionError(
                f"unknown quantization tier {quantized!r}; use 'sign', 'sq4' or 'pq'"
            )
        dim = int(meta.dimension or 0)
        if quantized == "pq" and dim % 8 != 0:
            raise CollectionError(f"pq tier needs dim divisible by 8, got {dim}")
        desc = self._new_index(
            "vector", meta, n_lists=n_lists, space=meta.space, trained_version=meta.version,
            replicas=int(replicas), quantized=quantized,
        )
        # bulk build: GEMM assignment (ivf._assign_arrow) — the expression
        # form is O(N * n_lists) interpreted array distances, hours at SIFT1M+
        centroids, postings = build_ivf(
            records, n_lists=n_lists, replicas=replicas, assign_method="arrow"
        )
        # train the tier's codec into the descriptor, then encode with it
        if quantized == "sign":
            desc["means"] = [float(m) for m in dim_means(postings)]
        elif quantized == "sq4":
            lo, step = dim_ranges(postings)
            desc["sq4_lo"] = [float(x) for x in lo]
            desc["sq4_step"] = [float(x) for x in step]
        elif quantized == "pq":
            import json as _json

            books = train_pq(records, m=dim // 8, k_codes=256)
            _os.makedirs(desc["path"], exist_ok=True)
            with open(_os.path.join(desc["path"], "pq_books.json"), "w") as f:
                _json.dump(books, f)
            desc["pq"] = {"m": dim // 8, "k_codes": 256}
        if quantized:
            _search, codec, encode, default_rerank = _CODED_IVF[quantized]
            postings = encode(postings, codec(self, desc))
            desc["rerank_factor"] = int(rerank_factor or default_rerank)
        centroids.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(desc["path"], "centroids")
        )
        return self._write_index("vector", desc, postings)

    def _pq_books(self, vi: dict) -> "list":
        """Codebooks persisted beside the layout (too big for the catalog
        JSON; the delta encoder and the query LUT both need them)."""
        import json as _json
        import os as _os

        with open(_os.path.join(vi["path"], "pq_books.json")) as f:
            return _json.load(f)

    def _ivf(self, vi: dict) -> tuple[DataFrame, DataFrame]:
        """(centroids, live postings) of the vector index ``vi``."""
        import os as _os

        from .layout import live

        postings = live(vi, "postings")
        return self._client.spark.read.parquet(_os.path.join(vi["path"], "centroids")), postings

    def build_sparse_index(self, key: str, n_buckets: int = 64) -> dict:
        """Build + register the term-bucket posting index over a
        SparseVector metadata column (the sparse-segment write of the
        reference's compaction; per-term posting reads,
        rust/index/src/sparse/reader.rs). ``search()`` sparse $knn terms on
        ``key`` then read only their buckets' partitions, with WAL-tail
        postings unioned in (the sparse_index_knn + sparse_log_knn merge,
        SURVEY §3.2)."""
        return self._build_registered(f"sparse:{key}", n_buckets=int(n_buckets))

    # -- dedup index (minhash band table as a collection index tier) -----

    def build_dedup_index(
        self, num_perm: int = 16, bands: int = 4, n: int = 3, text_col: str = "document"
    ) -> dict:
        """Build + register the minhash LSH band table over ``text_col`` —
        near-duplicate detection as a first-class collection index
        (operators/dedup.write_minhash_index layout + content
        fingerprints). :meth:`find_near_duplicates` then matches any
        incoming batch in O(batch); compaction maintains the table
        incrementally (only changed documents re-shingle)."""
        return self._build_registered(
            "dedup", num_perm=int(num_perm), bands=int(bands), n=int(n), text_col=text_col
        )

    def find_near_duplicates(
        self, new_docs: DataFrame, threshold: float = 0.8,
        id_col: str = "id", text_col: str | None = None,
    ) -> DataFrame:
        """Near-dup pairs ``(id_a, id_b, jac)`` between an incoming batch
        and the collection (plus within-batch), via the registered dedup
        index — the pre-ingest gate of a training-data pipeline. Corpus
        text is hydrated only for candidate ids."""
        from .layout import live
        from .operators.dedup import minhash_incremental_pairs

        meta = self._store.meta
        desc = meta.indexes.get("dedup")
        if desc is None:
            raise CollectionError("no dedup index; call build_dedup_index() first")
        if desc["version"] != meta.version or meta.log_paths:
            raise CollectionError(
                "dedup index is stale (WAL tail pending or version "
                f"{desc['version']} != {meta.version}); compact() refreshes it"
            )
        bands_df = live(desc, "bands").drop("fp")
        base = self._store.read_base(meta)
        corpus = base.select("id", F.col(desc["text_col"]).alias("document"))
        batch = new_docs.select(
            F.col(id_col).alias("id"),
            F.col(text_col or desc["text_col"]).alias("document"),
        )
        return minhash_incremental_pairs(
            batch,
            corpus,
            bands_df,
            threshold,
            num_perm=desc["num_perm"],
            bands=desc["bands"],
            n=desc["n"],
        )

    def semantic_near_duplicates(
        self, threshold: float = 0.05, method: str = "arrow"
    ) -> DataFrame:
        """SemDeDup decisions ``(id, group, cd, keep)`` served from the
        built vector index (Abbas et al. 2023): the IVF posting lists ARE
        the paper's clustering, so assignment costs nothing — within-list
        cosine pairs above ``threshold`` connect into duplicate groups and
        the member furthest from its centroid is kept. ``method="arrow"``
        (default) runs the per-cluster GEMM bulk tier; ``"expr"`` is the
        oracle-parity form. Like the minhash dedup index, the layout must
        be fresh (no pending WAL tail) so decisions cover exactly one
        collection version."""
        from .operators.dedup import semdedup_from_postings

        meta = self._store.meta
        vi = meta.indexes.get("vector")
        if vi is None:
            raise CollectionError("no vector index; call build_vector_index() first")
        if meta.log_paths:
            raise CollectionError(
                "vector index is stale (WAL tail pending); compact() refreshes it"
            )
        centroids, postings = self._ivf(vi)
        return semdedup_from_postings(
            postings.select("centroid_id", "id", "embedding"),
            centroids.select("centroid_id", "centroid"),
            threshold,
            method=method,
        )

    def build_tokenizer(
        self, n_merges: int = 256, max_words: int = 50_000, text_col: str = "document"
    ) -> dict:
        """Train and persist a FROZEN BPE merge table on the current state
        (operators/bpe.py) — the realistic LLM workflow: the tokenizer is
        trained once on a corpus snapshot and then applied unchanged as
        the corpus grows (re-training would silently change every token
        count downstream; the ``bpe_vocab`` attached function is the
        opposite tool — it re-learns at every compaction to TRACK drift).
        The merge table is config-sized, so it lives in the collection
        config like an embedding-function spec and any later process
        rebuilds the identical tokenizer."""
        from .operators.bpe import bpe_train

        state = self.snapshot()
        if state is None or text_col not in state.columns:
            raise CollectionError(f"no text column {text_col!r} to train a tokenizer on")
        docs = state.filter(F.col(text_col).isNotNull())
        merges = bpe_train(docs, n_merges, text_col=text_col, max_words=max_words)
        desc = {
            "merges": [[a, b] for a, b in merges],
            "text_col": text_col,
            "version": self._store.meta.version,
            "max_words": int(max_words),
        }
        self._store.catalog.mutate(
            self._store.name, lambda m: m.config.__setitem__("tokenizer", desc)
        )
        return desc

    def _tokenizer(self) -> tuple[list[tuple[str, str]], str]:
        desc = self._store.meta.config.get("tokenizer")
        if desc is None:
            raise CollectionError("no tokenizer; call build_tokenizer() first")
        return [tuple(m) for m in desc["merges"]], desc["text_col"]

    def tokenize(self, read_level: str = "index_and_wal") -> DataFrame:
        """``(id, bpe_tokens)`` for every document under the persisted
        frozen merge table (read-level aware, like ``count``)."""
        from .operators.bpe import bpe_tokenize

        merges, text_col = self._tokenizer()
        state = self.snapshot(read_level)
        if state is None:
            raise CollectionError("empty collection")
        return bpe_tokenize(state.filter(F.col(text_col).isNotNull()), merges, text_col=text_col)

    def token_counts(self, read_level: str = "index_and_wal") -> DataFrame:
        """``(id, n_words, n_bpe, head)`` under the persisted tokenizer —
        the per-document token-budget accounting a training pipeline reads
        before packing/mixing."""
        from .operators.bpe import bpe_token_counts

        merges, text_col = self._tokenizer()
        state = self.snapshot(read_level)
        if state is None:
            raise CollectionError("empty collection")
        return bpe_token_counts(state, merges, text_col=text_col)

    def build_fts_index(self, text_col: str = "document", n_buckets: int = 64) -> dict:
        """Build + register the trigram FTS posting index over ``text_col``
        (operators/fts.py; the reference's full-text segment,
        `rust/index/src/fulltext/types.rs`). ``get``/``query`` document
        filters with positive >= 3-char literals are then served as a
        partition-pruned candidate lookup + exact verify on the candidates
        only — never a full-text scan. Compaction maintains the postings
        incrementally (only changed documents re-trigram, appends only)."""
        return self._build_registered("fts", text_col=text_col, n_buckets=int(n_buckets))

    def snapshot_at(self, version: int) -> DataFrame:
        """Time travel: the compacted state as of ``version`` (old base
        versions stay on disk until :meth:`gc`; cross_version_persist
        analog of the reference's versioned collections)."""
        return self._store.read_base_version(version)

    def list_versions(self) -> list[int]:
        return self._store.list_base_versions()

    def gc(self, keep_last: int = 1, grace_seconds: float = 60.0) -> list[int]:
        """Remove old base versions, stale index layouts, and orphaned WAL
        batch dirs (`rust/garbage_collector/` analog); returns the base
        versions deleted.

        Ref-counted against EVERY collection in the catalog, so fork
        lineage pins shared state: a shallow-cloned child's meta references
        the parent's base part files, log batches, and index layouts by
        path, and anything referenced survives. Never removes the current
        version or the ``keep_last`` most recent. Reads at a pruned version
        fail with :class:`StaleReadError`. Local-FS implementation; a
        production deployment delegates to the table format's VACUUM with
        the same referenced-set rule.

        ``grace_seconds`` is a MARK-AND-SWEEP window, not an mtime check:
        a pass that finds an artifact unreferenced only *marks* it (in a
        ``.gc_marks.json`` sidecar); deletion happens on a pass running at
        least ``grace_seconds`` after the mark, and only if the artifact
        is still unreferenced then. This covers BOTH cross-process races:
        (a) an artifact written but not yet CAS-committed by another
        process (the orphan-grace rule of object-store GC — wal3 keeps a
        cutoff the same way), and (b) an artifact that became stale only
        moments ago — e.g. a base version superseded by a concurrent
        compaction while a reader that resolved it as head is still
        scanning it. An artifact-age cutoff misses (b): the old base dir's
        mtime is its creation time, arbitrarily far in the past.
        ``grace_seconds=0`` deletes in the same pass (tests use this for
        deterministic pruning).
        """
        import json as _json
        import os
        import shutil
        import time as _time

        grace = max(0.0, grace_seconds)
        now = _time.time()

        colls = self._store.catalog._load()[0]["collections"].values()  # one state read
        referenced = {p for m in colls for p in m["base_paths"]}
        log_referenced = {p for m in colls for p in m["log_paths"]}
        index_referenced = {d["path"] for m in colls for d in m["indexes"].values()}
        keep = set(self.list_versions()[-max(1, keep_last):])
        keep.add(self._store.meta.version)
        # candidate set: everything unreferenced RIGHT NOW, each tagged
        # with the base version it prunes (None for non-base artifacts)
        candidates: list[tuple[str, int | None]] = []
        for v in self.list_versions():
            path = self._store._dir("base", v)
            if v not in keep and path not in referenced:
                candidates.append((path, v))
        # WAL batch dirs left behind by compaction (compact() resets
        # log_paths but keeps files for forks that still reference them)
        for p in self._store.list_log_batch_dirs():
            if p not in log_referenced:
                candidates.append((p, None))
        # stale per-version index layouts (not referenced by any
        # collection's current descriptors — fork children may point at a
        # parent's old index)
        coll_dir = os.path.join(self._store.catalog.root, self._store.name)
        for sub in os.listdir(coll_dir) if os.path.isdir(coll_dir) else []:
            if not sub.startswith("index_"):
                continue
            for vdir in os.listdir(os.path.join(coll_dir, sub)):
                p = os.path.join(coll_dir, sub, vdir)
                if p not in index_referenced:
                    candidates.append((p, None))
        # attached-function outputs: point-in-time outputs (statistics,
        # record_counter) of pruned versions go with them; revision_history
        # is the append-only pre-image archive and is always kept (the
        # reference's history collection is never GCed from under readers)
        attached = self.list_functions()
        for sub in os.listdir(coll_dir) if os.path.isdir(coll_dir) else []:
            if not sub.startswith("fn_"):
                continue
            if attached.get(sub[3:], {}).get("kind") == "revision_history":
                continue
            for vdir in os.listdir(os.path.join(coll_dir, sub)):
                if vdir.startswith("v") and vdir[1:].isdigit() and int(vdir[1:]) not in keep:
                    candidates.append((os.path.join(coll_dir, sub, vdir), None))
        # mark-and-sweep: delete only what an earlier pass (>= grace ago)
        # already found unreferenced and that is STILL unreferenced now;
        # everything else (re-)marks. Paths that regained a reference fall
        # out of the candidate set and lose their mark automatically.
        marks_path = os.path.join(coll_dir, ".gc_marks.json")
        try:
            with open(marks_path) as f:
                marks = {k: float(v) for k, v in _json.load(f).items()}
        except (OSError, ValueError):
            marks = {}
        deleted: list[int] = []
        new_marks: dict[str, float] = {}
        for path, ver in candidates:
            first_seen = marks.get(path, now)
            if now - first_seen >= grace:
                # ignore_errors: a concurrent gc in another process may
                # sweep the same path first
                shutil.rmtree(path, ignore_errors=True)
                if ver is not None:
                    deleted.append(ver)
            else:
                new_marks[path] = first_seen
        if new_marks:
            os.makedirs(coll_dir, exist_ok=True)
            tmp = f"{marks_path}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                _json.dump(new_marks, f)
            os.replace(tmp, marks_path)
        elif os.path.exists(marks_path):
            try:
                os.remove(marks_path)
            except OSError:
                pass
        return sorted(deleted)

    def fork_count(self) -> int:
        """Number of live collections sharing this collection's base part
        files — the reference's ``_fork_count``
        (`/root/reference/chromadb/api/__init__.py:892-899`), the same
        census the NumForks quota prices at fork time. Zero for a
        never-forked collection with unshared files."""
        me = self._store.meta
        shared = set(me.base_paths)
        colls = self._store.catalog._load()[0]["collections"]  # one state read
        return sum(
            1
            for other, m in colls.items()
            if other != self._store.name and shared & set(m.get("base_paths", []))
        )

    def get_indexing_status(self) -> dict:
        """Compaction/indexing progress — the reference's
        ``_get_indexing_status`` returning IndexingStatus
        (`/root/reference/chromadb/api/__init__.py:901-908`,
        `chromadb/api/types.py:655-660`): how much of the write log the
        indexed (compacted) state already covers. ``num_indexed_ops`` =
        ops folded into the base at the last compaction;
        ``num_unindexed_ops`` = WAL-tail ops a query at INDEX_ONLY would
        miss. One bounded count job over the tail paths."""
        meta = self._store.meta
        log = self._store.read_log(meta)
        unindexed = 0 if log is None else log.count()
        total = int(meta.log_position)
        indexed = max(0, total - unindexed)
        return {
            "num_indexed_ops": indexed,
            "num_unindexed_ops": unindexed,
            "total_ops": total,
            "op_indexing_progress": 1.0 if total == 0 else round(indexed / total, 6),
        }

    def fork(self, name: str) -> "Collection":
        """Zero-copy clone at the current version (Collection.py:329):
        the child references the parent's part files; new writes diverge."""
        import dataclasses

        # NumForks (quota/mod.rs:311): forks share the root's base part
        # files, so count live collections referencing any of them
        self._client._enforce(
            Action.FORK_COLLECTION, collection_name=name, num_forks=self.fork_count() + 1
        )
        # zero-copy includes the indexes: the child serves from the
        # parent's index files until its own writes diverge + compact
        child = dataclasses.replace(
            self._store.meta, name=self._client._scoped(name), id=uuid.uuid4().hex
        )
        self._store.catalog.create(child)
        return Collection(self._client, self._client._scoped(name))

    def copy_to(
        self,
        name: str,
        where: dict | None = None,
        where_document: dict | None = None,
        client: "Client | None" = None,
    ) -> "Collection":
        """MATERIALIZED copy (vs ``fork``'s zero-copy shared-files clone):
        config + records flow into a fresh collection, optionally filtered
        to a subset. The reference CLI's copy command pages ``get()`` +
        ``add()`` through the driver at ``--batch 100``
        (`rust/cli/src/commands/copy.rs:81,298`); here the snapshot flows
        as ONE distributed ``add_records`` write — 100 TB copies without a
        driver loop. Pass ``client`` to copy across stores (the
        local<->cloud direction of the CLI)."""
        dst_client = client or self._client
        ex = self._read()
        meta = ex.meta
        from .schema import Schema

        # validate the filter payloads BEFORE creating the destination so a
        # rejected where/where_document leaves no side effects (no leaked
        # empty collection)
        self._validate_indexed(meta, where, where_document)
        dst = dst_client.create_collection(
            name,
            dimension=meta.dimension,
            space=meta.space,
            metadata=dict(meta.metadata),
            schema=Schema.from_dict(meta.schema),
        )
        # the config (embedding functions, tokenizer, attached functions)
        # travels; index descriptors never do — they describe the source's
        # files at the source's versions
        dst._store.catalog.mutate(dst._store.name, lambda m: setattr(m, "config", meta.config))
        snap = ex.filtered(Filter(where=where, where_document=where_document))
        records = snap.drop("seq_id", "op", "where_json", "offset_id")
        if records.isEmpty():
            return dst
        dst.add_records(records)
        return dst

    # ------------------------------------------------------------------
    # read surface
    # ------------------------------------------------------------------

    def _read(self, read_level: str = "index_and_wal") -> _Executor:
        """Stage 1 of every read: resolve ONE catalog state (its resident
        view) and the executor that lowers the call's plans over it."""
        meta = self._store.meta
        return _Executor(self, _ReadView.resolve(self._store, meta, read_level), meta)

    def count(self, read_level: str = "index_and_wal") -> int:
        return self._read(read_level).count()

    def peek(self, limit: int = 10) -> list[dict]:
        return self.get(limit=limit)

    def get(
        self,
        ids: Sequence[str] | None = None,
        where: dict | None = None,
        where_document: dict | None = None,
        limit: int | None = None,
        offset: int = 0,
        include: Sequence[str] = ("documents", "metadatas"),
        read_level: str = "index_and_wal",
    ) -> list[dict]:
        self._client._enforce(
            Action.GET, query_ids=ids, where=where, where_document=where_document,
            limit=limit,
        )
        ex = self._read(read_level)
        self._validate_indexed(ex.meta, where, where_document)
        plan = GetPlan(Filter(ids, where, where_document), Limit(offset, limit), include, read_level)
        return [r.asDict(recursive=True) for r in ex.get(plan).collect()]

    _QUERY_INCLUDE_DEFAULT = ("metadatas", "documents", "distances")
    _INTERNAL_COLS = frozenset({"id", "embedding", "document", "uri", "offset_id"})

    def query(
        self,
        query_embeddings: Sequence[Sequence[float]] | None = None,
        n_results: int = 10,
        ids: Sequence[str] | None = None,
        where: dict | None = None,
        where_document: dict | None = None,
        read_level: str = "index_and_wal",
        query_texts: Sequence[str] | None = None,
        include: Sequence[str] = _QUERY_INCLUDE_DEFAULT,
        nprobe: int | None = None,
    ) -> dict:
        """Batch KNN; returns the column-major QueryResult shape
        (chromadb/api/types.py:619-651): lists-of-lists per query for
        ``ids`` plus every field named in ``include`` (``distances``,
        ``documents``, ``metadatas``, ``embeddings``, ``uris``). Winners-only
        hydration: payload fields are joined for the top-k ids only (the
        KnnProjection contract, knn_projection.rs:61). An empty collection
        yields one empty list PER QUERY in every field. ``query_texts`` are
        embedded client-side with the collection's attached embedding
        function (Collection.py:212).

        With a fresh vector index (build_vector_index), a probe of
        ``nprobe`` posting lists fewer than all of them (after the filter's
        selectivity scaling), or any probe of a quantized index, searches
        the index and brute-forces only WAL-tail records, merging the two
        top-k streams (the reference's parallel knn_log + knn_hnsw ->
        knn_merge pipeline, SURVEY §3.2). ``nprobe=None`` probes every
        list, which on an unquantized index is served by the exact scan of
        the resident records instead: the same answer for less work. With
        no fresh index, the exact scan serves."""
        self._client._enforce(
            Action.QUERY, query_embeddings=query_embeddings, query_ids=ids,
            where=where, where_document=where_document, n_results=n_results,
        )
        # one catalog read serves the whole call: EF, schema gate, snapshot
        # and index descriptors all describe it
        ex = self._read(read_level)
        meta = ex.meta
        if query_embeddings is None:
            if query_texts is None:
                raise CollectionError("one of query_embeddings / query_texts is required")
            ef = self._embedding_function(meta)
            if ef is None:
                raise CollectionError("query_texts requires an attached embedding function")
            query_embeddings = ef(list(query_texts))
        elif query_texts is not None:
            raise CollectionError("pass query_embeddings or query_texts, not both")
        include = tuple(include)
        bad = set(include) - {"distances", "documents", "metadatas", "embeddings", "uris"}
        if bad:
            raise CollectionError(f"unknown include fields: {sorted(bad)}")
        self._validate_indexed(meta, where, where_document, knn=True)
        # the list-shaped front of the query_batch lowering: the query
        # lists become a local query frame
        qdf = local_frame(
            self._client.spark,
            [(i, [float(x) for x in q]) for i, q in enumerate(query_embeddings)],
            "query_id INT, embedding ARRAY<FLOAT>",
        )
        plan = KNNPlan(query_embeddings, n_results, Filter(ids, where, where_document), include, read_level)
        winners = ex.knn(plan, qdf, nprobe)
        rows = [r.asDict(recursive=True) for r in winners.collect()]
        meta_cols = [
            c for c in winners.columns
            if c not in self._INTERNAL_COLS | {"query_id", "dist", "rank"}
        ]
        out: dict[str, list] = {f: [[] for _ in query_embeddings] for f in ("ids", *include)}
        fields = {"ids": "id", "distances": "dist", "documents": "document", "uris": "uri"}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            q = r["query_id"]
            for f in {"ids", *include} & set(fields):
                out[f][q].append(r[fields[f]])
            if "embeddings" in include:
                emb = r["embedding"]
                out["embeddings"][q].append(list(emb) if emb is not None else None)
            if "metadatas" in include:
                md = {k: r[k] for k in meta_cols if r[k] is not None}
                out["metadatas"][q].append(md or None)
        return out

    def query_batch(
        self,
        queries: DataFrame,
        n_results: int = 10,
        where: dict | None = None,
        where_document: dict | None = None,
        read_level: str = "index_and_wal",
        nprobe: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
    ) -> DataFrame:
        """Distributed KNN join: a DataFrame of query vectors against the
        collection, returning ``(query_id, id, dist, rank)`` — the
        100-TB-side twin of :meth:`query` (which mirrors the reference's
        list-typed client API). No query row ever reaches the driver, so
        the batch can be another table (the classic similarity join).

        The physical choice is :meth:`query`'s: an ``nprobe`` below the
        list count (or a quantized index) runs the nprobe-pruned index
        pipeline + WAL-tail merge; ``nprobe=None`` on an unquantized index,
        or no fresh index, runs the exact scan. Predicates restrict the
        candidate set before the index/exact search (filter-before-ANN,
        knn_filter.rs).

        Scale note: queries stay distributed through the centroid
        assignment (centroids are the broadcast side); the probed-list join
        broadcasts ``queries × nprobe`` rows, so chunk batches beyond ~10M
        probe pairs (or lower nprobe) rather than raising the broadcast
        ceiling."""
        self._client._enforce(Action.QUERY, n_results=n_results, where=where,
                              where_document=where_document)
        ex = self._read(read_level)
        self._validate_indexed(ex.meta, where, where_document, knn=True)
        qdf = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("embedding"),
        )
        flt = Filter(where=where, where_document=where_document)
        return ex.knn(KNNPlan(fetch=n_results, filter=flt, include=("distances",),
                              read_level=read_level), qdf, nprobe)

    def sparse_query_batch(
        self,
        queries: DataFrame,
        key: str = "sparse",
        n_results: int = 10,
        read_level: str = "index_and_wal",
        idf: bool = True,
        query_id_col: str = "query_id",
        query_vec_col: str | None = None,
        query_text_col: str | None = None,
        prune_buckets: bool | str = "auto",
        prune_threshold: int = 1024,
    ) -> DataFrame:
        """Distributed sparse retrieval join: a DataFrame of SparseVector
        queries against the collection's ``key`` column, returning
        ``(query_id, id, score)`` top-``n_results`` per query by (optionally
        IDF-scaled) dot product — the BM25-style twin of
        :meth:`query_batch` for lexical/learned-sparse retrieval at scale
        (hard-negative mining, cross-corpus linking).

        Served by the fresh persisted term-bucket index (with WAL-tail
        postings merged) when one exists, else by inline postings exploded
        from the snapshot. ``prune_buckets`` controls the driver-side
        distinct-term collect that turns the batch vocabulary into
        partition filters: ``"auto"`` (default) prunes only when the batch
        holds <= ``prune_threshold`` queries (one bounded ``limit()``
        collect of the query term lists, never a full count) — a huge batch's
        vocabulary approaches the whole term space, so the collect would
        cost an unbounded driver round-trip to prune nothing. ``True`` /
        ``False`` force either side. Scale note: query postings are the
        broadcast side of the scoring join; chunk batches whose exploded
        postings exceed broadcast size.

        ``query_text_col`` embeds raw query text with the collection's
        configured sparse EF for ``key`` (SPLADE wire provider / BM25) —
        the sparse analog of ``query(query_texts=...)``."""
        self._client._enforce(Action.QUERY, n_results=n_results)
        ex = self._read(read_level)
        if query_text_col is not None:
            if query_vec_col is not None:
                raise CollectionError("pass query_vec_col or query_text_col, not both")
            sef, _skey = self._sparse_embedding_function(ex.meta, key)
            if sef is None:
                raise CollectionError(
                    f"query_text_col requires a sparse embedding function "
                    f"configured for key {key!r}"
                )
            qvec = sef.embed_column(F.col(query_text_col))
        else:
            qvec = F.col(query_vec_col or key)
        qdf = queries.select(F.col(query_id_col).alias("query_id"), qvec.alias(key))
        plan = KNNPlan(fetch=n_results, include=("distances",), read_level=read_level)
        return ex.sparse_knn(plan, qdf, key, idf, prune_buckets, prune_threshold)

    def hybrid_query_batch(
        self,
        dense_queries: DataFrame,
        sparse_queries: DataFrame,
        key: str = "sparse",
        n_results: int = 10,
        rrf_k: int = 60,
        per_side_limit: int = 100,
        read_level: str = "index_and_wal",
        nprobe: int | None = None,
        idf: bool = True,
    ) -> DataFrame:
        """Reciprocal-rank fusion of the dense and sparse distributed
        retrieval joins — batch hybrid search with no driver-side query
        lists. Both query frames carry ``query_id`` (shared id space) plus
        their vector column; returns ``(query_id, id, score)`` top
        ``n_results`` per query, reference Rrf semantics
        (operator.py:1144-1238 desugar): score =
        −Σ 1/(rrf_k + rank0), a side that missed a record contributes
        its ``per_side_limit`` default rank, ascending-is-better.

        Each side retrieves its own top ``per_side_limit`` candidates
        through the index-served batch lowerings, both over ONE catalog
        state; the fusion join touches only ``n_queries × per_side_limit``
        rows per side."""
        from .operators.topk import topk_per_group

        self._client._enforce(Action.QUERY, n_results=per_side_limit)
        ex = self._read(read_level)
        self._validate_indexed(ex.meta, None, None, knn=True)
        side = KNNPlan(fetch=per_side_limit, include=("distances",), read_level=read_level)
        dense = ex.knn(
            side, dense_queries.select("query_id", "embedding"), nprobe
        ).select("query_id", "id", (F.col("rank") - 1).cast("double").alias("__d0"))
        sp = ex.sparse_knn(
            side, sparse_queries.select("query_id", key), key, idf, "auto", 1024
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("id").asc())
        sp = sp.select(
            "query_id", "id", (F.row_number().over(w) - 1).cast("double").alias("__s0")
        )
        default = float(per_side_limit)
        fused = dense.join(sp, ["query_id", "id"], "full").select(
            "query_id",
            "id",
            (
                -(
                    1.0 / (F.lit(float(rrf_k)) + F.coalesce(F.col("__d0"), F.lit(default)))
                    + 1.0 / (F.lit(float(rrf_k)) + F.coalesce(F.col("__s0"), F.lit(default)))
                )
            ).alias("score"),
        )
        return topk_per_group(
            fused, ["query_id"], [F.col("score").asc(), F.col("id").asc()], n_results
        )

    def search(self, read_level: str = "index_and_wal", **payload) -> DataFrame:
        """Hybrid search (Search payload of SURVEY §3.2) as a DataFrame."""
        self._client._enforce(
            Action.SEARCH,
            where=payload.get("where"),
            where_document=payload.get("where_document"),
            rank=payload.get("rank"),
            limit=(payload.get("limit") or {}).get("limit")
            if isinstance(payload.get("limit"), dict)
            else payload.get("limit"),
        )
        ex = self._read(read_level)
        self._validate_indexed(ex.meta, payload.get("where"), payload.get("where_document"))
        payload = dict(payload)
        limit = Limit(payload.pop("offset", 0), payload.pop("limit", None))
        return ex.search(Search(limit=limit, read_level=read_level, **payload))

    # ------------------------------------------------------------------
    # conditional transactions
    # ------------------------------------------------------------------

    def transaction(self) -> "CollectionTransaction":
        """Begin a read-set-validated optimistic transaction
        (`chromadb/api/__init__.py:320-450`)."""
        return CollectionTransaction(self)


class ConditionalWriteConflictError(CollectionError):
    """A record this transaction writes was concurrently written."""


class CollectionTransaction:
    """Optimistic conditional transaction: reads record a read-set, writes
    are buffered; commit validates no concurrent write touched the read- or
    write-set since begin (the Delta optimistic-concurrency analog of the
    reference's conditional transaction,
    `chromadb/api/__init__.py:320-450`, `ConditionalCommitResult`
    `chromadb/api/types.py:791`). Conflict granularity is per record id via
    the WAL seq cursor — exactly the log-position scouting the reference
    frontend does (`service_based_frontend.rs:2833-2852`)."""

    def __init__(self, collection: Collection) -> None:
        self._coll = collection
        meta = collection._store.meta
        self._begin_pos = meta.log_position
        self._begin_version = meta.version
        self._read_ids: set[str] = set()
        self._buffer: list[tuple[str, tuple]] = []
        self._record_count = 0
        self._done = False

    def _check_open(self) -> None:
        if self._done:
            raise CollectionError("transaction already committed")

    def get(self, **kwargs) -> list[dict]:
        self._check_open()
        rows = self._coll.get(**kwargs)
        if kwargs.get("ids") is not None:
            self._read_ids.update(str(i) for i in kwargs["ids"])
        self._read_ids.update(r["id"] for r in rows)
        return rows

    def _buffered(self, op: str, ids, *payload) -> bool:
        self._check_open()
        self._buffer.append((op, (list(ids), *payload)))
        self._record_count += len(ids)
        return True

    def add(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> bool:
        return self._buffered("add", ids, embeddings, documents, uris, metadatas)

    def update(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> bool:
        return self._buffered("update", ids, embeddings, documents, uris, metadatas)

    def upsert(self, ids, embeddings=None, documents=None, uris=None, metadatas=None) -> bool:
        return self._buffered("upsert", ids, embeddings, documents, uris, metadatas)

    def delete(self, ids) -> bool:
        return self._buffered("delete", ids, None, None, None, None)

    def commit(self) -> dict:
        """Validate and apply; returns ``{first_inserted_record_offset,
        record_count}`` (ConditionalCommitResult shape). Raises
        :class:`StaleReadError` / :class:`ConditionalWriteConflictError` on
        conflict — callers retry with backoff, as the reference client does.

        Cross-process window: validation pins the fresh log position and the
        FIRST buffered append CAS-requires it unchanged (strict — no seq
        re-basing), so any foreign write landing between validation and
        apply forces a silent re-validate + retry here rather than slipping
        past the conflict check. Appends between this transaction's own ops
        re-base normally; a foreign write interleaving exactly there is the
        one residual (sub-millisecond) unvalidated window."""
        self._check_open()
        for _ in range(10):
            meta = self._validate()
            first_offset = meta.log_position
            self._coll._txn_expect_pos = int(meta.log_position)
            try:
                for op, (ids, *payload) in self._buffer:
                    if op == "delete":
                        self._coll.delete(ids)
                    else:
                        getattr(self._coll, op)(ids, *payload)
            except _TxnCursorMoved:
                continue  # nothing applied; re-validate against the fresh tail
            finally:
                self._coll._txn_expect_pos = None
            self._done = True
            return {
                "first_inserted_record_offset": first_offset,
                "record_count": self._record_count,
            }
        raise ConditionalWriteConflictError(
            "conditional transaction lost its commit race 10 times"
        )

    def _validate(self) -> "CollectionMeta":
        """The begin-snapshot conflict checks against fresh state; returns
        the fresh meta whose log position the apply phase pins."""
        store = self._coll._store
        meta = store.meta
        write_ids = {str(i) for op, (ids, *_) in self._buffer for i in ids}
        if meta.version != self._begin_version:
            # compaction consumed the log tail; per-id validation impossible
            raise StaleReadError(
                f"collection compacted during transaction (v{self._begin_version}"
                f" -> v{meta.version})"
            )
        if meta.log_position != self._begin_pos:
            # Distributed conflict check: the log tail since begin_pos may be
            # arbitrarily large under concurrent bulk ingest, so it is NEVER
            # collected — the txn's own (bounded, list-API-sized) read/write
            # id sets are broadcast against it and only <=5 exemplar ids per
            # conflict kind reach the driver (same shape as add()'s dup
            # check). Write conflicts take precedence via the sort.
            probe = sorted(write_ids | self._read_ids)
            if probe:
                spark = self._coll._client.spark
                tail = store.read_log(meta).filter(F.col("seq_id") >= self._begin_pos).select("id")
                ids_df = local_frame(
                    spark, [(i, i in write_ids) for i in probe], "id STRING, is_write BOOLEAN"
                )
                hits = (
                    tail.join(F.broadcast(ids_df), "id")
                    .select("id", "is_write")
                    .distinct()
                    .orderBy(F.col("is_write").desc(), "id")
                    .limit(6)
                    .collect()
                )
                w_hits = [r["id"] for r in hits if r["is_write"]][:5]
                if w_hits:
                    raise ConditionalWriteConflictError(f"concurrent write to {w_hits}")
                r_hits = [r["id"] for r in hits if not r["is_write"]][:5]
                if r_hits:
                    raise StaleReadError(f"read set modified: {r_hits}")
        return meta
