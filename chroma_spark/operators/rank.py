"""Rank-expression calculus for hybrid search.

Faithful re-expression of the reference's ``RankExpr`` evaluator
(``rust/worker/src/execution/operators/rank.rs:16-170``; client builders
``chromadb/execution/expression/operator.py:621-1238``) as DataFrame plans.

A :class:`RankDomain` is the evaluated score set of an expression:

- ``support``: DataFrame ``(id, score)`` — scores of specific records
  (``None`` == empty support, a "flat" domain);
- ``default``: score of records NOT in support (``None`` == records outside
  the support are excluded).

Merge rules (``rank.rs:34-120``), which the DataFrame implementation must
reproduce exactly:

- both defaults present  -> support over the UNION of ids (each side's
  default fills its gaps); default = op(defaults);
- one default present    -> support over the OTHER side's ids only;
  default = None;
- both defaults None     -> support over the INTERSECTION; default = None.

n-ary ops fold with their identity: ``$sum``->flat(0), ``$mul``->flat(1),
``$max``->flat(f32::MIN), ``$min``->flat(f32::MAX) (``rank.rs:117-133``).
``$knn`` with ``return_rank`` scores by 0-based position (``rank.rs:148``).
The final result is the support ONLY — the top-level default is never
expanded over the collection (``rank.rs:196-204``).

Grammar accepted here (dict form, as the client serializes it)::

    {"$knn": {"query": [f32...], "key": "#embedding", "limit": n,
              "default": f|None, "return_rank": bool, "space": "l2|cosine|ip"}}
    {"$knn": {"query": {"indices": [i32...], "values": [f32...]},
              "key": "<sparse column>", "limit": n, ...}}   # sparse KNN:
              # measure = 1 - dot (ascending-better), the reference's
              # sparse_index_knn.rs:85-88 convention; only records sharing
              # >= 1 term with the query are in the term's support
    {"$val": c}
    {"$sum": [e...]} {"$sub": {"left": e, "right": e}}
    {"$mul": [e...]} {"$div": {"left": e, "right": e}}
    {"$abs": e} {"$exp": e} {"$log": e}
    {"$min": [e...]} {"$max": [e...]}

Physical shape: every ``$knn`` term is one top-k over the candidates, no
shuffle of the record side. A dense term scans them with a broadcast
nested-loop distance join; a sparse term scores each one with a per-record
dot product, or reads a persisted index's bucket-pruned postings when the
caller passes one. A batch of one query ranks with one
TakeOrderedAndProject, a batch of several with the two-stage windows.
Arithmetic over domains is full-outer / left / inner joins on id keyed by
the merge rule — at most ``limit`` rows per side, so these joins are tiny
regardless of collection size.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.distance import ROUND_DECIMALS
from .knn import knn_distances
from .topk import topk_per_group

F32_MIN = -3.4028234663852886e38
F32_MAX = 3.4028234663852886e38


class RankError(ValueError):
    """Malformed rank expression."""


@dataclass
class RankDomain:
    support: DataFrame | None  # columns: id, score
    default: float | None


def _map_default(d: float | None, fn: Callable[[float], float]) -> float | None:
    if d is None:
        return None
    try:
        return fn(d)
    except (ValueError, OverflowError):
        return float("nan")


def _merge(left: RankDomain, right: RankDomain, op: Callable[[Any, Any], Any]) -> RankDomain:
    """DataFrame transcription of RankDomain::merge (rank.rs:34-120)."""
    ld, rd = left.default, right.default
    new_default = op(ld, rd) if (ld is not None and rd is not None) else None
    if left.support is None and right.support is None:
        return RankDomain(None, new_default)
    if left.support is None:
        if ld is None:  # empty domain: intersection with nothing
            return RankDomain(None, None)
        sup = right.support.select("id", op(F.lit(ld), F.col("score")).alias("score"))
        return RankDomain(sup, new_default)
    if right.support is None:
        if rd is None:
            return RankDomain(None, None)
        sup = left.support.select("id", op(F.col("score"), F.lit(rd)).alias("score"))
        return RankDomain(sup, new_default)
    l = left.support.select(F.col("id"), F.col("score").alias("__ls"))
    r = right.support.select(F.col("id"), F.col("score").alias("__rs"))
    if ld is not None and rd is not None:
        joined = l.join(r, "id", "full_outer")
        lval, rval = F.coalesce(F.col("__ls"), F.lit(ld)), F.coalesce(F.col("__rs"), F.lit(rd))
    elif ld is not None:  # right side bounds the support
        joined = r.join(l, "id", "left")
        lval, rval = F.coalesce(F.col("__ls"), F.lit(ld)), F.col("__rs")
    elif rd is not None:  # left side bounds the support
        joined = l.join(r, "id", "left")
        lval, rval = F.col("__ls"), F.coalesce(F.col("__rs"), F.lit(rd))
    else:
        joined = l.join(r, "id", "inner")
        lval, rval = F.col("__ls"), F.col("__rs")
    return RankDomain(joined.select("id", op(lval, rval).alias("score")), new_default)


def _fold(domains: list[RankDomain], identity: float, op) -> RankDomain:
    acc = RankDomain(None, identity)
    for d in domains:
        acc = _merge(acc, d, op)
    return acc


def collect_knn_terms(expr: Any, out: list[dict]) -> None:
    """Gather every $knn leaf — the reference collects them the same way
    before orchestration (``rust/types/src/execution/operator.rs:
    1204-1230`` ``RankExpr::knn_queries``)."""
    if not isinstance(expr, dict):
        return
    for op, arg in expr.items():
        if op == "$knn":
            out.append(arg)
        elif op in ("$sub", "$div"):
            collect_knn_terms(arg.get("left"), out)
            collect_knn_terms(arg.get("right"), out)
        elif isinstance(arg, list):
            for e in arg:
                collect_knn_terms(e, out)
        else:
            collect_knn_terms(arg, out)


class RankEvaluator:
    """Evaluates a rank expression dict over a candidate record DataFrame.

    ``records`` is the (already Where-filtered) candidate set — $knn terms
    search within it (the reference's filter-before-ANN:
    ``orchestration/knn_filter.rs`` feeding ``knn.rs``).
    """

    def __init__(
        self,
        records: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        default_space: str = "l2",
        sparse_index: dict[str, tuple[DataFrame, int, float | None]] | None = None,
        corpus: DataFrame | None = None,
        sparse_n_docs: dict[str, float] | None = None,
    ) -> None:
        """``sparse_index`` routes sparse $knn terms on a key through a
        persisted term-bucket postings index: ``{key: (indexed_postings,
        n_buckets, n_docs|None)}`` (see sparse.write_sparse_index). The
        candidate set is still ``records`` — index hits outside it are
        semi-joined away, the reference's allowed-ids bitmap restriction.
        Sparse terms on any other key score every candidate per record
        (:func:`~.sparse.sparse_scan_scores`).

        ``corpus``: the UNFILTERED records the per-record scorer counts its
        IDF document frequencies over when ``records`` is a filtered
        candidate subset (the reference's Idf always reads whole-index
        stats; default ``records``). ``sparse_n_docs``: per key, the IDF
        ``n`` of those terms (a fresh sparse index's compaction-time doc
        count); keys absent count the corpus."""
        self.records = records
        self.id_col = id_col
        self.vec_col = vec_col
        self.default_space = default_space
        self.sparse_index = sparse_index or {}
        self.corpus = corpus
        self.sparse_n_docs = sparse_n_docs or {}
        # (qvec, limit, space, return_rank) -> support DataFrame, filled by
        # _precompute_knns before tree evaluation
        self._knn_cache: dict[tuple, DataFrame] = {}

    @staticmethod
    def _knn_key(arg: dict[str, Any]) -> tuple:
        q = arg.get("query")
        if isinstance(q, dict):
            qk = (
                "sparse",
                tuple(int(i) for i in q.get("indices", ())),
                tuple(float(v) for v in q.get("values", ())),
            )
        else:
            qk = tuple(float(x) for x in (q or ()))
        return (
            qk,
            int(arg.get("limit", 16)),
            arg.get("space"),
            bool(arg.get("return_rank", False)),
            arg.get("key"),
            bool(arg.get("idf", True)),
        )

    @staticmethod
    def _valid_query(q: Any) -> bool:
        """A non-empty dense vector, or a sparse query whose indices are
        strictly ascending and aligned with its values."""
        if isinstance(q, dict):
            idx, vals = q.get("indices"), q.get("values")
            return (
                bool(idx) and bool(vals) and len(idx) == len(vals)
                and all(int(a) < int(b) for a, b in zip(idx, idx[1:]))
            )
        return isinstance(q, (list, tuple)) and bool(q)

    def _ranked(self, scored: DataFrame, n_queries: int, measure: str, k: int) -> DataFrame:
        """The top ``k`` of ``scored`` per query by ``(measure, id)``, with
        a 1-based ``rank``: one TakeOrderedAndProject for a batch of one
        query, the two-stage windows for a batch of several."""
        return topk_per_group(
            scored,
            [] if n_queries == 1 else ["query_id"],
            [F.col(measure).asc(), F.col(self.id_col).asc()],
            k,
            rank_col="rank",
        )

    def _slice(self, top: DataFrame, keyed: list, measure: str) -> None:
        """Each term's support: its query's ``rank <= limit`` rows of the
        batch's shared top-k. AQE exchange reuse dedupes the scan across
        the slices at runtime (an explicit persist() measured SLOWER: the
        cache materialization is a barrier, while reused query stages
        pipeline)."""
        for i, (key, t) in enumerate(keyed):
            limit = int(t.get("limit", 16))
            rr = bool(t.get("return_rank", False))
            score = (F.col("rank") - 1).cast("double") if rr else F.col(measure)
            self._knn_cache[key] = (
                top.filter((F.col("query_id") == i) & (F.col("rank") <= limit))
                .select(F.col(self.id_col).alias("id"), score.alias("score"))
            )

    def _precompute_knns(self, expr: dict[str, Any]) -> None:
        """One batched top-k per vector column (and per sparse column)
        instead of one Spark plan per $knn term: all terms of a column
        share a single records-side scan (queries become rows of the
        broadcast side; mixed spaces pick their metric per query row, so a
        multi-space rank such as Rrf over cosine+l2 reads the big side
        once), then each term slices its ``rank <= limit`` from the
        result. Dense terms score only records with a vector in their
        column.
        """
        terms: list[dict] = []
        collect_knn_terms(expr, terms)
        by_vcol: dict[str, list[tuple[str, tuple, dict]]] = {}
        by_sparse_col: dict[str, list[tuple[tuple, dict]]] = {}
        for t in terms:
            q = t.get("query")
            if not self._valid_query(q):
                continue  # malformed term: _knn raises the proper RankError
            key = self._knn_key(t)
            if key in self._knn_cache:
                continue
            self._knn_cache[key] = None  # claimed
            if isinstance(q, dict):
                col = str(t.get("key", "sparse")).lstrip("#")
                # idf is on by default (the reference's sparse orchestration
                # always runs Idf, sparse_knn.rs:243); "idf": False gives the
                # raw-dot operator contract. Terms batch per (col, idf).
                by_sparse_col.setdefault((col, bool(t.get("idf", True))), []).append((key, t))
            else:
                # dense terms may target any ARRAY<FLOAT> column via "key"
                # (operator.py:1043-1111; default #embedding) — multi-vector
                # records batch per column
                vcol = str(t.get("key") or "#embedding").lstrip("#")
                if vcol == "embedding":
                    vcol = self.vec_col
                by_vcol.setdefault(vcol, []).append((t.get("space", self.default_space), key, t))
        for (col, use_idf), keyed in by_sparse_col.items():
            self._precompute_sparse(col, keyed, use_idf)
        spark = self.records.sparkSession
        for vcol, triples in by_vcol.items():
            spaces = sorted({s for s, _, _ in triples})
            if len(spaces) > 1:
                qrows = [(i, [float(x) for x in t.get("query")], s) for i, (s, _, t) in enumerate(triples)]
                qdf = local_frame(spark, qrows, "query_id INT, embedding ARRAY<FLOAT>, space STRING")
                space: str | list[str] = spaces
            else:
                qrows = [(i, [float(x) for x in t.get("query")]) for i, (_, _, t) in enumerate(triples)]
                qdf = local_frame(spark, qrows, "query_id INT, embedding ARRAY<FLOAT>")
                space = spaces[0]
            keyed = [(k_, t) for _, k_, t in triples]
            dist = knn_distances(
                self.records.filter(F.col(vcol).isNotNull()),
                qdf,
                space=space,
                id_col=self.id_col,
                vec_col=vcol,
                round_decimals=None,
            )
            kmax = max(int(t.get("limit", 16)) for _, t in keyed)
            self._slice(self._ranked(dist, len(keyed), "dist", kmax), keyed, "dist")

    def evaluate(self, expr: dict[str, Any]) -> RankDomain:
        self._precompute_knns(expr)
        return self._evaluate(expr)

    def _evaluate(self, expr: dict[str, Any]) -> RankDomain:
        if not isinstance(expr, dict) or len(expr) != 1:
            raise RankError("rank expression must be a single-op dict")
        [(op, arg)] = expr.items()
        if op == "$val":
            return RankDomain(None, float(arg))
        if op == "$knn":
            return self._knn(arg)
        if op == "$sum":
            return _fold([self._evaluate(e) for e in arg], 0.0, lambda a, b: a + b)
        if op == "$mul":
            return _fold([self._evaluate(e) for e in arg], 1.0, lambda a, b: a * b)
        if op == "$max":
            return _fold(
                [self._evaluate(e) for e in arg],
                F32_MIN,
                lambda a, b: F.greatest(a, b) if _iscol(a, b) else max(a, b),
            )
        if op == "$min":
            return _fold(
                [self._evaluate(e) for e in arg],
                F32_MAX,
                lambda a, b: F.least(a, b) if _iscol(a, b) else min(a, b),
            )
        if op == "$sub":
            return _merge(self._evaluate(arg["left"]), self._evaluate(arg["right"]), lambda a, b: a - b)
        if op == "$div":
            return _merge(self._evaluate(arg["left"]), self._evaluate(arg["right"]), lambda a, b: a / b)
        if op in ("$abs", "$exp", "$log"):
            d = self._evaluate(arg)
            col_fn, py_fn = {
                "$abs": (F.abs, abs),
                "$exp": (F.exp, math.exp),
                "$log": (F.log, lambda x: math.log(x) if x > 0 else float("nan")),
            }[op]
            sup = None
            if d.support is not None:
                sup = d.support.select("id", col_fn(F.col("score")).alias("score"))
            return RankDomain(sup, _map_default(d.default, py_fn))
        raise RankError(f"unknown rank operator {op}")

    def _precompute_sparse(self, sparse_col: str, keyed: list, use_idf: bool = True) -> None:
        """Batched sparse top-k for every sparse $knn term over one record
        column (sparse_index_knn.rs semantics; measure = 1 - dot,
        ascending).

        Query weights are IDF-scaled first — the reference's sparse KNN
        orchestration always runs the Idf operator before the search
        (sparse_knn.rs:243 -> idf.rs:24-31). When a persisted term-bucket
        index is registered for the key, the search reads only the query
        terms' bucket partitions and semi-joins the candidate set;
        otherwise every candidate scores per record."""
        from .sparse import sparse_index_scores, sparse_scan_scores

        queries = [
            ([int(x) for x in t["query"]["indices"]], [float(v) for v in t["query"]["values"]])
            for _, t in keyed
        ]
        if sparse_col in self.sparse_index:
            postings, n_buckets, n_docs = self.sparse_index[sparse_col]
            qdf = local_frame(
                self.records.sparkSession,
                [(i, q) for i, q in enumerate(queries)],
                f"query_id INT, {sparse_col} STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>",
            )
            scored = sparse_index_scores(
                postings,
                qdf,
                n_buckets=n_buckets,
                sparse_col=sparse_col,
                idf=use_idf,
                n_docs=n_docs,
                candidates=self.records.select(F.col(self.id_col).alias("id")),
                query_indices=sorted({i for idx, _ in queries for i in idx}),
            ).withColumnRenamed("id", self.id_col)
        else:
            scored = sparse_scan_scores(
                self.records,
                queries,
                sparse_col=sparse_col,
                id_col=self.id_col,
                idf=use_idf,
                corpus=self.corpus,
                n_docs=self.sparse_n_docs.get(sparse_col),
            ).withColumnRenamed("id", self.id_col)
        scored = scored.withColumn("__measure", F.lit(1.0) - F.col("score"))
        kmax = max(int(t.get("limit", 16)) for _, t in keyed)
        self._slice(self._ranked(scored, len(keyed), "__measure", kmax), keyed, "__measure")

    def _knn(self, arg: dict[str, Any]) -> RankDomain:
        qvec = arg.get("query")
        if not self._valid_query(qvec):
            raise RankError(
                "$knn requires a dense query vector or a sparse {indices, values} dict"
                " (indices strictly ascending, one value each)"
            )
        default = arg.get("default")
        sup = self._knn_cache.get(self._knn_key(arg))
        if sup is None:  # evaluated outside evaluate() — fall back to batch-of-one
            self._knn_cache.pop(self._knn_key(arg), None)
            self._precompute_knns({"$knn": arg})
            sup = self._knn_cache[self._knn_key(arg)]
        return RankDomain(sup, float(default) if default is not None else None)


def _iscol(a, b) -> bool:
    from pyspark.sql import Column

    return isinstance(a, Column) or isinstance(b, Column)


def rrf(
    knn_terms: list[dict[str, Any]],
    k: int = 60,
    weights: list[float] | None = None,
    normalize: bool = False,
) -> dict[str, Any]:
    """Desugar reciprocal-rank fusion exactly like the client does
    (``operator.py:1144-1238``): ``-(sum_i w_i / (k + rank_i))``.

    Each term must be a ``$knn`` dict; ``return_rank`` is forced on.
    """
    if not knn_terms:
        raise RankError("RRF requires at least one rank")
    if k <= 0:
        raise RankError("k must be positive")
    weights = list(weights) if weights else [1.0] * len(knn_terms)
    if len(weights) != len(knn_terms):
        raise RankError("weights length must match ranks")
    if any(w < 0 for w in weights):
        raise RankError("weights must be non-negative")
    if normalize:
        s = sum(weights)
        if s <= 0:
            raise RankError("weight sum must be positive")
        weights = [w / s for w in weights]
    terms = []
    for w, t in zip(weights, knn_terms):
        t = {**t, "return_rank": True}
        terms.append(
            {"$div": {"left": {"$val": w}, "right": {"$sum": [{"$val": float(k)}, {"$knn": t}]}}}
        )
    total = {"$sum": terms} if len(terms) > 1 else terms[0]
    return {"$sub": {"left": {"$val": 0.0}, "right": total}}


def finalize_scores(domain: RankDomain, round_decimals: int | None = ROUND_DECIMALS) -> DataFrame:
    """Support-only result (rank.rs:196-204), canonically rounded."""
    if domain.support is None:
        raise RankError("rank expression has empty support (nothing to order by)")
    score = F.col("score")
    if round_decimals is not None:
        score = F.round(score, round_decimals) + F.lit(0.0)
    return domain.support.select("id", score.alias("score"))
