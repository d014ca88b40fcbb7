"""Plan IR — the reference's fixed query-plan dataclasses.

``chromadb/execution/expression/plan.py:19-43`` defines ``CountPlan``,
``GetPlan``, ``KNNPlan`` and ``Search`` as plain dataclasses (there is no
rewriting optimizer — SURVEY §3's IR summary); one executor pattern-matches
them. Here they are the input of the one read executor
(:class:`chroma_spark.api._Executor`): every public read builds a plan and
the executor lowers it over one resolved catalog state in a fixed order —
filter, record source (fresh index + WAL-tail merge, or exact scan), rank
and limit, hydration. Catalyst optimizes what the lowering produces.

``plan.execute(collection)`` runs a plan through the collection's public
method of the same kind, so admission control (authz, rate, quota) and
payload validation always run before the executor sees it. Plans serialize
to dicts (the protobuf-conversion analog, ``rust/types/src/execution/
plan.rs:34-588``) so they can be logged, shipped, or replayed.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Sequence


@dataclass
class Filter:
    """The filter triple every plan carries (``plan.py`` Filter usage;
    rust ``Filter { query_ids, where_clause }``)."""

    ids: Sequence[str] | None = None
    where: dict | None = None
    where_document: dict | None = None


@dataclass
class Limit:
    """``Limit {offset, limit}`` (operator.py:546-593)."""

    offset: int = 0
    limit: int | None = None


@dataclass
class CountPlan:
    """``CountPlan(Scan)`` -> collection cardinality (plan.py:19)."""

    read_level: str = "index_and_wal"

    def execute(self, collection) -> int:
        return collection.count(read_level=self.read_level)

    def to_dict(self) -> dict:
        return {"type": "count", **asdict(self)}


@dataclass
class GetPlan:
    """``GetPlan(Scan, Filter, Limit, Projection)`` (plan.py:24-29)."""

    filter: Filter = field(default_factory=Filter)
    limit: Limit = field(default_factory=Limit)
    include: Sequence[str] = ("documents", "metadatas")
    read_level: str = "index_and_wal"

    def execute(self, collection) -> list[dict]:
        return collection.get(
            ids=self.filter.ids,
            where=self.filter.where,
            where_document=self.filter.where_document,
            offset=self.limit.offset,
            limit=self.limit.limit,
            include=self.include,
            read_level=self.read_level,
        )

    def to_dict(self) -> dict:
        return {"type": "get", **asdict(self)}


@dataclass
class KNNPlan:
    """``KNNPlan(Scan, KNN{embeddings, fetch}, Filter, Projection)``
    (plan.py:31-36)."""

    embeddings: Sequence[Sequence[float]] = ()
    fetch: int = 10
    filter: Filter = field(default_factory=Filter)
    include: Sequence[str] = ("metadatas", "documents", "distances")
    read_level: str = "index_and_wal"

    def execute(self, collection) -> dict:
        return collection.query(
            query_embeddings=[list(e) for e in self.embeddings],
            n_results=self.fetch,
            ids=self.filter.ids,
            where=self.filter.where,
            where_document=self.filter.where_document,
            include=self.include,
            read_level=self.read_level,
        )

    def to_dict(self) -> dict:
        return {"type": "knn", **asdict(self)}


@dataclass
class Search:
    """The hybrid-search payload (plan.py:38-43: ``Search{filter, rank,
    group_by, limit, select}``); executes to a DataFrame."""

    where: dict | None = None
    where_document: dict | None = None
    rank: dict | None = None
    group_by: dict | None = None
    limit: Limit = field(default_factory=Limit)
    select: list[str] | None = None
    read_level: str = "index_and_wal"

    def execute(self, collection):
        return collection.search(
            read_level=self.read_level,
            where=self.where,
            where_document=self.where_document,
            rank=self.rank,
            group_by=self.group_by,
            offset=self.limit.offset,
            limit=self.limit.limit,
            select=self.select,
        )

    def to_dict(self) -> dict:
        return {"type": "search", **asdict(self)}


def plan_from_dict(d: dict) -> CountPlan | GetPlan | KNNPlan | Search:
    """Deserialize a plan dict (the proto-roundtrip analog)."""
    d = dict(d)
    kind = d.pop("type")
    if kind == "count":
        return CountPlan(**d)
    if kind == "get":
        return GetPlan(filter=Filter(**d.pop("filter")), limit=Limit(**d.pop("limit")), **d)
    if kind == "knn":
        return KNNPlan(filter=Filter(**d.pop("filter")), **d)
    if kind == "search":
        return Search(limit=Limit(**d.pop("limit")), **d)
    raise ValueError(f"unknown plan type {kind!r}")
