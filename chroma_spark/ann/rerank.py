"""Winners-only hydration + exact re-rank shared by the quantized tiers.

The code-domain prefilters (Hamming / SQ4-ADC / PQ-LUT) can produce tens of
millions of candidate rows per query batch. If each candidate row carries
its full float vector (and the query's), the prefilter's top-k shuffle
moves *wide* rows — measured at SIFT1M scale this spilled a 26M-candidate
sign-bit sweep to disk until the volume ran out of space. The fix is the
same winners-only-hydration rule the projection operator already follows
(`operators/search.py`, reference `KnnProjection`): the prefilter emits
ONLY ``(query_id, id, metric)``; full vectors are fetched afterwards for
the ``rerank_factor * k`` survivors via broadcast joins.

At 100 TB this is also the right byte economics: the candidate scan reads
only the narrow code column; the wide embedding column is read in a second,
semi-join-pruned pass over just the probed partitions, and only survivor
rows travel.

:func:`coded_search` is the one pipeline every code tier runs — (probe ->
allowed/excluded filter ->) code-domain prefilter top ``rerank_factor * k``
-> :func:`hydrate_rerank`; a tier contributes only its query-side code
column and its approximate-distance expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.distance import distance
from ..operators.topk import topk_per_group
from .ivf import probe_lists


def hydrate_rerank(
    survivors: DataFrame,
    source: DataFrame,
    queries: DataFrame,
    k: int,
    space: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    round_decimals: int | None,
) -> DataFrame:
    """``survivors``: narrow ``(__qid, id)`` prefilter winners (bounded by
    ``queries x rerank_factor x k`` — broadcastable by construction).
    ``source``: the records/postings table to fetch vectors from (may hold
    replica duplicates per id). ``queries``: ``(__qid, __qvec)``.

    Returns ``(query_id, id, dist, rank)`` — exact distances, ascending,
    ties by id."""
    ids = survivors.select(id_col).distinct()
    vecs = (
        source.join(F.broadcast(ids), id_col, "semi")
        .select(id_col, vec_col)
        .dropDuplicates([id_col])  # replicas carry identical vectors
    )
    hydrated = (
        survivors.join(F.broadcast(vecs), id_col)
        .join(F.broadcast(queries), "__qid")
    )
    d = rounded(distance(F.col(vec_col), F.col("__qvec"), space), round_decimals)
    return topk_per_group(
        hydrated.select(F.col("__qid").alias(query_id_col), F.col(id_col), d.alias("dist")),
        [query_id_col],
        [F.col("dist").asc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    )


def rounded(d: F.Column, round_decimals: int | None) -> F.Column:
    """``d`` rounded like exact distances (+ 0.0 canonicalizes -0.0)."""
    return d if round_decimals is None else F.round(d, round_decimals) + F.lit(0.0)


def coded_search(
    coded: DataFrame,
    q: DataFrame,
    approx: F.Column,
    reads: str,
    k: int,
    rerank_factor: int,
    space: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    round_decimals: int | None,
    centroids: DataFrame | None = None,
    nprobe: int | None = None,
    allowed_ids: DataFrame | None = None,
    excluded_ids: DataFrame | None = None,
) -> DataFrame:
    """Code-domain prefilter -> exact re-rank over ``coded`` records or
    postings. ``q``: ``(__qid, __qvec[, <query code>])``; ``approx``: the
    tier's approximate distance, reading the query-side column ``reads``
    (the only query column the prefilter broadcast carries). With
    ``centroids`` only the ``nprobe`` nearest lists are scored and
    hydrated; ``allowed_ids``/``excluded_ids``: see ``ivf.ivf_search``."""
    source = coded
    if centroids is None:
        scored = coded.crossJoin(F.broadcast(q.select("__qid", reads))).select(
            "__qid", F.col(id_col), approx.alias("__adc")
        )
    else:
        probes = probe_lists(q, centroids, nprobe)
        if allowed_ids is not None:
            source = source.join(allowed_ids.select(F.col(id_col)), id_col, "semi")
        if excluded_ids is not None:
            source = source.join(excluded_ids.select(F.col(id_col)), id_col, "anti")
        scored = (
            source.join(F.broadcast(probes.select("__qid", reads, "centroid_id")), "centroid_id")
            .select("__qid", F.col(id_col), approx.alias("__adc"))
            .groupBy("__qid", id_col)
            .agg(F.min("__adc").alias("__adc"))
        )
        # hydration scan stays partition-pruned to the probed lists
        source = source.join(F.broadcast(probes.select("centroid_id").distinct()), "centroid_id")
    # narrow prefilter: (qid, id, approx) only into the top-k shuffle
    survivors = topk_per_group(
        scored,
        ["__qid"],
        [F.col("__adc").asc(), F.col(id_col).asc()],
        rerank_factor * k,
    ).select("__qid", id_col)
    return hydrate_rerank(
        survivors, source, q.select("__qid", "__qvec"), k, space, id_col, vec_col,
        query_id_col, round_decimals,
    )
