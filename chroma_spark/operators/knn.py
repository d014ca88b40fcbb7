"""Exact (brute-force) batch KNN — the correctness oracle for all ANN work.

Reference contract: ``collection.query`` / ``KNNPlan``
(``chromadb/execution/expression/plan.py:31-36``); exact-distance oracle
``chromadb/test/property/invariants.py:207-226`` (ties broken by id);
brute-force impls ``chromadb/segment/impl/vector/brute_force_index.py`` and
``rust/worker/src/execution/operators/knn_log.rs:58``.

Spark shape: queries are a (small) DataFrame broadcast against the records
table — a BroadcastNestedLoopJoin, i.e. every executor scans only its local
record partitions against the in-memory query set; there is NO shuffle of
the 100-TB side. Distances are Catalyst column expressions (JVM codegen, no
Python). Top-k uses the two-stage pattern from :mod:`.topk`.

Optional pre-filtering (the reference's filter-before-ANN:
``chromadb/execution/executor/local.py:107-127``) is just a ``df.filter``
before the join — Catalyst pushes it into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.distance import ROUND_DECIMALS, distance
from .topk import topk_per_group


def exact_knn(
    records: DataFrame,
    queries: DataFrame,
    k: int,
    space: str | list[str] = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    dist_col: str = "dist",
    round_decimals: int | None = ROUND_DECIMALS,
    query_space_col: str = "space",
) -> DataFrame:
    """Top-``k`` records per query by exact distance, ascending.

    Returns columns: ``query_id_col, id_col, dist_col, rank`` (rank is the
    1-based position, the reference's ``return_rank`` payload). Determinism:
    ordered by (rounded distance, record id) so float summation-order noise
    cannot flip the ordering between runs/engines. Distances as in
    :func:`knn_distances`.
    """
    joined = knn_distances(
        records, queries, space, id_col, vec_col, query_id_col, query_vec_col,
        dist_col, round_decimals, query_space_col,
    )
    return topk_per_group(
        joined,
        [query_id_col],
        [F.col(dist_col).asc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    )


def knn_distances(
    records: DataFrame,
    queries: DataFrame,
    space: str | list[str] = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    dist_col: str = "dist",
    round_decimals: int | None = ROUND_DECIMALS,
    query_space_col: str = "space",
) -> DataFrame:
    """``(query_id_col, id_col, dist_col)``: every record's distance to
    every query (the broadcast nested-loop join, before any top-k).

    ``space`` may be a list, in which case each query row picks its own
    metric via ``query_space_col`` — one records-side scan serves a mixed
    batch (a multi-space rank expression reads the 100-TB side once instead
    of once per metric; the per-row CASE picks the one distance branch).
    """
    if isinstance(space, (list, tuple)):
        q = queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vec_col).alias("__qvec"),
            F.col(query_space_col).alias("__qspace"),
        )
        d = None
        for s in sorted(set(space)):
            ds = distance(F.col(vec_col), F.col("__qvec"), s)
            d = (
                F.when(F.col("__qspace") == s, ds)
                if d is None
                else d.when(F.col("__qspace") == s, ds)
            )
    else:
        q = queries.select(
            F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")
        )
        d = distance(F.col(vec_col), F.col("__qvec"), space)
    if round_decimals is not None:
        # + 0.0 canonicalizes IEEE negative zero (cosine self-distance can
        # round to -0.0 in one engine and 0.0 in the other)
        d = F.round(d, round_decimals) + F.lit(0.0)
    return records.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        d.alias(dist_col),
    )


def knn_merge(
    parts: list[DataFrame],
    k: int,
    id_col: str = "id",
    query_id_col: str = "query_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Merge per-source top-k streams into one top-k per query — the
    reference's ``knn_merge`` operator (``operators/knn_merge.rs:43``),
    which fuses the index-side and log-side KNN results. Inputs carry
    ``(query_id, id, dist)``; output adds ``rank``. Each part is at most
    ``nq * k`` rows, so the union + re-rank is trivially small."""
    out = parts[0].select(query_id_col, id_col, dist_col)
    for p in parts[1:]:
        out = out.unionByName(p.select(query_id_col, id_col, dist_col))
    return topk_per_group(
        out,
        [query_id_col],
        [F.col(dist_col).asc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    )


def exact_knn_sql(
    records_sql: str,
    queries_sql: str,
    k: int,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    dist_col: str = "dist",
    round_decimals: int | None = ROUND_DECIMALS,
) -> str:
    """DuckDB oracle twin of :func:`exact_knn` (same columns, same ties)."""
    from ..functions.distance import distance_sql

    d = distance_sql(f'r."{vec_col}"', f'q."{query_vec_col}"', space)
    if round_decimals is not None:
        d = f"(round({d}, {round_decimals}) + 0.0)"
    return f"""
WITH __knn_scored AS (
  SELECT q."{query_id_col}" AS "{query_id_col}", r."{id_col}" AS "{id_col}", {d} AS "{dist_col}"
  FROM ({records_sql}) r CROSS JOIN ({queries_sql}) q
), __knn_ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY "{query_id_col}" ORDER BY "{dist_col}" ASC, "{id_col}" ASC) AS rank
  FROM __knn_scored
)
SELECT * FROM __knn_ranked WHERE rank <= {k}
"""
