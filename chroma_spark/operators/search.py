"""The hybrid ``search()`` pipeline.

Mirrors the reference orchestration
(``rust/worker/src/execution/orchestration/rank.rs:81-128``)::

    with rank:    Filter -> [$knn terms] -> Rank -> RankedGroupBy
                  -> Limit -> Select
    without rank: Filter -> Limit (by insertion offset) -> Select

All stages are DataFrame transformations; the Where filter runs BEFORE the
$knn terms (filter-before-ANN, ``executor/local.py:107-127``), so Catalyst
pushes it into the scan and each KNN term searches only candidates.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..where import filter_records
from .group_by import ranked_group_by
from .limit import page
from .rank import RankEvaluator, finalize_scores


def search(
    records: DataFrame,
    where: dict[str, Any] | None = None,
    where_document: dict[str, Any] | None = None,
    rank: dict[str, Any] | None = None,
    group_by: dict[str, Any] | None = None,
    limit: int | None = None,
    offset: int = 0,
    select: list[str] | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
    doc_col: str = "document",
    array_keys: frozenset[str] = frozenset(),
    default_space: str = "l2",
    offset_col: str | None = None,
    sparse_index: dict | None = None,
    candidates: DataFrame | None = None,
    sparse_n_docs: dict[str, float] | None = None,
) -> DataFrame:
    """Run a Search payload; returns records (+ ``score`` when ranked).

    ``offset_col`` — the internal insertion-offset column; when given,
    un-ranked results order by it (limit.rs:23-36) instead of the id.
    ``sparse_index`` — per-key persisted posting indexes for sparse $knn
    terms, and ``sparse_n_docs`` — per-key IDF ``n`` for the sparse terms
    scored per record (see RankEvaluator). ``candidates`` — the records the caller's
    own filter stage already kept (Collection.search lowers ``where`` /
    ``where_document`` with its FTS candidates there); when None, ``where``
    and ``where_document`` filter ``records`` here. Filtering touches the
    CANDIDATE side only, so corpus-level IDF stats stay unfiltered."""
    if candidates is None:
        candidates = filter_records(
            records, where=where, where_document=where_document,
            array_keys=array_keys, id_col=id_col, doc_col=doc_col,
        )

    if rank is None:
        out = candidates
        if offset_col is not None and offset_col in candidates.columns:
            order = [F.col(offset_col).asc_nulls_first(), F.col(id_col).asc()]
        else:
            order = [F.col(id_col).asc()]
    else:
        ev = RankEvaluator(
            candidates,
            id_col=id_col,
            vec_col=vec_col,
            default_space=default_space,
            sparse_index=sparse_index,
            corpus=records,  # IDF stats over the unfiltered corpus
            sparse_n_docs=sparse_n_docs,
        )
        scores = finalize_scores(ev.evaluate(rank))
        if not group_by and select is not None and set(select) <= {"#id", "#score"}:
            # the scores carry every selected field: no record is fetched
            out = scores.withColumnRenamed("id", id_col)
        else:
            # hydration join (reference KnnProjection: winners only fetch payload)
            out = scores.withColumnRenamed("id", "__sid").join(
                candidates, F.col("__sid") == F.col(id_col), "inner"
            ).drop("__sid")
        if group_by:
            agg = group_by.get("aggregate", {})
            if len(agg) != 1:
                raise ValueError("group_by.aggregate must be {$min_k|$max_k: {keys, k}}")
            [(mode_op, spec)] = agg.items()
            mode = {"$min_k": "min_k", "$max_k": "max_k"}.get(mode_op)
            if mode is None:
                raise ValueError(f"unknown aggregate {mode_op}")
            sort_keys = [k.replace("#score", "score") for k in spec["keys"]]
            out = ranked_group_by(
                out, list(group_by["keys"]), int(spec["k"]), sort_keys, mode, id_col
            )
        order = [F.col("score").asc(), F.col(id_col).asc()]

    out = page(out, order, offset=offset, limit=limit)
    if select is not None:
        cols = _resolve_select(
            select, out.columns, id_col, doc_col, vec_col, offset_col
        )
        if rank is not None and "score" not in cols:
            cols.append("score")
        out = out.select(*cols)
    elif offset_col is not None and offset_col in out.columns:
        out = out.drop(offset_col)  # internal column, not payload
    return out


def _resolve_select(
    select: list[str],
    available: list[str],
    id_col: str,
    doc_col: str,
    vec_col: str,
    offset_col: str | None,
) -> list[str]:
    """Expand the Select key set (``chromadb/execution/expression/
    operator.py:1239-1326``; rust ``operators/select.rs:68``): the special
    ``#``-keys name record fields — ``#id #document #embedding #score`` map
    to their columns and ``#metadata`` expands to every metadata column —
    while plain keys select individual metadata columns."""
    special = {"#id": id_col, "#document": doc_col, "#embedding": vec_col, "#score": "score"}
    non_metadata = {id_col, doc_col, vec_col, "uri", "score"} | (
        {offset_col} if offset_col else set()
    )
    cols: list[str] = []
    for key in select:
        if key == "#metadata":
            cols.extend(c for c in available if c not in non_metadata)
        elif key in special:
            cols.append(special[key])
        elif key.startswith("#"):
            raise ValueError(f"unknown special select key {key!r}")
        else:
            cols.append(key)
    seen: set[str] = set()
    return [c for c in cols if not (c in seen or seen.add(c))]
