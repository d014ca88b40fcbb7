"""Sparse-vector scoring: posting lists, document frequency, IDF, BM25.

Reference surface:
- SparseVector type ``chromadb/base_types.py:13-117`` (indices strictly
  ascending + values); Spark type ``STRUCT<indices ARRAY<INT>,
  values ARRAY<FLOAT>>``.
- BM25 doc-side weights (fastembed Bm25 via
  ``chromadb/utils/embedding_functions/bm25_embedding_function.py:94-130``):
  ``w(t,d) = tf / (tf + k1 * (1 - b + b * dl/avgdl))`` with k1=1.2, b=0.75.
- Query-side IDF (``rust/worker/src/execution/operators/idf.rs:24-31``):
  ``idf(t) = ln((n - n_t + 0.5) / (n_t + 0.5) + 1)``, n_t clamped to n.
- Sparse KNN = top-k by dot product
  (``operators/sparse_index_knn.rs``, ``rust/index/src/sparse/README.md``).

Spark shape: a posting-list DataFrame ``(term, id, weight)`` built by
``explode`` — the classic inverted index as a table. Scoring joins the
(broadcast) query terms to postings, aggregates ``sum(doc_w * q_w)`` per id,
then two-stage top-k. The reference's Block-Max WAND/MaxScore pruning exists
to skip postings on a single node; in batch Spark the scan is already
parallel and the join prunes to query terms only, so pruning is partition
pruning on the term key (Catalyst handles it when postings are bucketed by
term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.text import tokens, tokens_sql
from .topk import topk_per_group

BM25_K1 = 1.2
BM25_B = 0.75


# ---------------------------------------------------------------------------
# Token-level statistics
# ---------------------------------------------------------------------------


def doc_frequency(docs: DataFrame, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """``(term, df)``: number of documents containing each term.

    Map-side: per-document DISTINCT terms (array_distinct before explode —
    the dedup happens inside each row, not via a shuffle), then a single
    count aggregation keyed by term (map-side partial combine applies).
    """
    return (
        docs.select(F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def doc_frequency_sql(docs_sql: str, text_col: str = "document", id_col: str = "id") -> str:
    toks = tokens_sql(f'"{text_col}"')
    return f"""
SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
  SELECT unnest(list_distinct({toks})) AS term FROM ({docs_sql})
) GROUP BY term"""


def idf_expr(df_col, n_docs_col):
    """Chroma IDF (idf.rs:24-31); n_t clamped to n."""
    nt = F.least(df_col, n_docs_col)
    return F.log((n_docs_col - nt + F.lit(0.5)) / (nt + F.lit(0.5)) + F.lit(1.0))


def idf_sql(df_expr: str, n_expr: str) -> str:
    nt = f"least({df_expr}, {n_expr})"
    return f"ln(({n_expr} - {nt} + 0.5) / ({nt} + 0.5) + 1.0)"


# ---------------------------------------------------------------------------
# BM25 top-k over raw text
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    text_col: str = "document",
    id_col: str = "id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Top-``k`` docs by BM25 against ``query_terms``; ``(id, score)``,
    score DESCENDING better (reference sparse scores are dot products;
    ordering ties break on id ascending).

    All term statistics are DataFrame aggregates — nothing is collected to
    the driver, so the same plan runs at any corpus size. avgdl is a scalar
    1-row broadcast join.
    """
    spark = docs.sparkSession
    # avgdl, tf and df are separate aggregates over the SAME tokenization;
    # Catalyst re-runs the tokenizer per subtree (no cross-aggregate scan
    # sharing). That is fine for one-shot scoring; for repeated querying at
    # scale the persisted sparse index below amortizes tokenization once.
    toks = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
    lengths = toks.select("id", F.size("toks").alias("dl"))
    n_and_avg = lengths.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    qterms = local_frame(spark, [(t,) for t in query_terms], "term STRING")
    dfreq = (
        toks.select(F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    qstats = F.broadcast(
        qterms.join(dfreq, "term", "left")
        .crossJoin(F.broadcast(n_and_avg))
        .select(
            "term",
            "avgdl",
            idf_expr(F.coalesce(F.col("df"), F.lit(0)), F.col("n_docs")).alias("idf"),
        )
    )
    scored = (
        tf.join(qstats, "term")
        .select(
            "id",
            (
                F.col("idf")
                * (
                    F.col("tf")
                    / (
                        F.col("tf")
                        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                    )
                )
            ).alias("contrib"),
        )
        .groupBy("id")
        .agg(F.sum("contrib").alias("score"))
    )
    if round_decimals is not None:
        scored = scored.select("id", (F.round(F.col("score"), round_decimals) + F.lit(0.0)).alias("score"))
    return topk_per_group(scored, [], [F.col("score").desc(), F.col("id").asc()], k)


def bm25_topk_sql(
    docs_sql: str,
    query_terms: list[str],
    k: int,
    text_col: str = "document",
    id_col: str = "id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    toks = tokens_sql(f'"{text_col}"')
    terms = ", ".join("('" + t.replace("'", "''") + "')" for t in query_terms)
    return f"""
WITH __docs AS ({docs_sql}),
__toks AS (SELECT "{id_col}" AS id, {toks} AS toks FROM __docs),
__stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM __toks),
__tf AS (
  SELECT id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT id, len(toks) AS dl, unnest(toks) AS term FROM __toks
  ) GROUP BY id, dl, term
),
__qterms AS (SELECT * FROM (VALUES {terms}) AS t(term)),
__dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
    SELECT unnest(list_distinct(toks)) AS term FROM __toks
  ) GROUP BY term
),
__qstats AS (
  SELECT q.term, s.avgdl, {idf_sql('CAST(coalesce(d.df, 0) AS DOUBLE)', 's.n_docs')} AS idf
  FROM __qterms q LEFT JOIN __dfreq d ON q.term = d.term CROSS JOIN __stats s
),
__scored AS (
  SELECT id, (round(sum(idf * (tf / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl / avgdl)))), 6) + 0.0) AS score
  FROM __tf t JOIN __qstats q ON t.term = q.term
  GROUP BY id
)
SELECT id, score FROM (
  SELECT id, score, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM __scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# SparseVector struct construction + dot-product top-k
# ---------------------------------------------------------------------------


def build_sparse(docs: DataFrame, dim: int, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """``(id, sparse STRUCT<indices ARRAY<INT>, values ARRAY<FLOAT>>)``.

    Terms hash (md5-based, engine-portable) into ``dim`` buckets; values are
    bucket term frequencies. Indices strictly ascending (SparseVector
    contract, base_types.py:13-117). Pure column expressions — the
    map_from/sort dance stays inside codegen.
    """
    from ..functions.text import md5_long

    exploded = (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .select("id", (md5_long(F.col("term")) % dim).cast("int").alias("idx"))
        .groupBy("id", "idx")
        .agg(F.count("*").cast("float").alias("val"))
    )
    return (
        exploded.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("idx", "val"))).alias("pairs"))
        .select(
            "id",
            F.struct(
                F.transform("pairs", lambda p: p["idx"]).alias("indices"),
                F.transform("pairs", lambda p: p["val"]).alias("values"),
            ).alias("sparse"),
        )
    )


def _dot_topk(
    postings: DataFrame,
    qpost: DataFrame,
    k: int,
    round_decimals: int | None,
    candidates: DataFrame | None = None,
    idf_from: DataFrame | None = None,
    n_docs: float | None = None,
) -> DataFrame:
    """``(query_id, id, score)`` top-k by dot product per query: the
    :func:`_dot_scores` of the postings, rounded, two-stage top-k."""
    return _score_topk(_dot_scores(postings, qpost, candidates, idf_from, n_docs), k, round_decimals)


def _score_topk(scored: DataFrame, k: int, round_decimals: int | None) -> DataFrame:
    """The top ``k`` per query of ``(query_id, id, score)`` rows, score
    descending then id, scores rounded first."""
    if round_decimals is not None:
        scored = scored.select(
            "query_id", "id", (F.round(F.col("score"), round_decimals) + F.lit(0.0)).alias("score")
        )
    return topk_per_group(scored, ["query_id"], [F.col("score").desc(), F.col("id").asc()], k)


def _dot_scores(
    postings: DataFrame,
    qpost: DataFrame,
    candidates: DataFrame | None = None,
    idf_from: DataFrame | None = None,
    n_docs: float | None = None,
) -> DataFrame:
    """Shared scoring core: ``(query_id, id, score)`` by dot product, one
    row per record sharing a term with the query.

    ``qpost`` is broadcast-sized ``(query_id, idx, q_w)``. With ``idf_from``
    (a postings corpus) the query weights are scaled by the corpus IDF
    (idf.rs:24-31) before the join — exactly where the reference's
    SparseKnnOrchestrator runs the Idf operator (sparse_knn.rs:243). Per-term
    df comes from ``idf_from``; the corpus doc count is the ``n_docs``
    scalar when given (index metadata — the reference's Idf reads it from
    the index, idf.rs:92) else one distinct-count over ``idf_from``.
    ``candidates`` restricts the support to those ids (filter-before-KNN)
    via a semi-join applied after the query-term join has pruned postings
    to query-vocabulary rows.
    """
    joined = postings.join(F.broadcast(qpost), "idx")
    contrib = F.col("doc_w") * F.col("q_w")
    if idf_from is not None:
        if idf_from is postings:
            # fast path: df(term) falls out of the scoring join itself —
            # each (query_id, idx) window group holds one row per document
            # containing the term, so count(*) over it IS the document
            # frequency; no separate aggregation pass over the postings
            from pyspark.sql import Window

            w = Window.partitionBy("query_id", "idx")
            joined = joined.withColumn("__df", F.count("*").over(w).cast("double"))
        else:
            dfreq = (
                idf_from.join(F.broadcast(qpost.select("idx").distinct()), "idx")
                .groupBy("idx")
                .agg(F.count_distinct("id").cast("double").alias("df"))
            )
            joined = joined.join(F.broadcast(dfreq), "idx", "left").withColumn(
                "__df", F.coalesce(F.col("df"), F.lit(0.0))
            )
        if n_docs is not None:
            n_col = F.lit(float(n_docs))
        else:
            n_df = idf_from.select("id").distinct().agg(
                F.count("*").cast("double").alias("n_docs")
            )
            joined = joined.crossJoin(F.broadcast(n_df))
            n_col = F.col("n_docs")
        contrib = F.col("doc_w") * F.col("q_w") * idf_expr(F.col("__df"), n_col)
    if candidates is not None:
        joined = joined.join(candidates.select("id"), "id", "semi")
    return joined.groupBy("query_id", "id").agg(F.sum(contrib).alias("score"))


def _query_postings(query: DataFrame, sparse_col: str, query_id_col: str) -> DataFrame:
    """``(query_id, idx, q_w)`` rows of a query frame's sparse vectors."""
    return query.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.arrays_zip(
                F.col(f"{sparse_col}.indices").alias("idx"),
                F.col(f"{sparse_col}.values").alias("val"),
            )
        ).alias("p"),
    ).select("query_id", F.col("p.idx").alias("idx"), F.col("p.val").cast("double").alias("q_w"))


def sparse_dot_topk(
    records: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "id",
    sparse_col: str = "sparse",
    query_id_col: str = "query_id",
    round_decimals: int | None = 6,
    idf: bool = False,
) -> DataFrame:
    """Top-``k`` by sparse dot product per query; ``(query_id, id, score)``.

    Explode record sparse vectors into postings, join the (broadcast)
    exploded query terms on the index, sum products per (query, id) —
    the SPANN-paper posting-list join expressed as DataFrame ops
    (sparse_index_knn.rs equivalent). ``idf`` scales query weights by the
    IDF of ``records`` first (the orchestration-level contract,
    sparse_knn.rs:243). For the query-batch join; a rank expression's
    terms score per record (:func:`sparse_scan_scores`)."""
    postings = explode_postings(records, id_col=id_col, sparse_col=sparse_col)
    qpost = _query_postings(query, sparse_col, query_id_col)
    return _dot_topk(postings, qpost, k, round_decimals, idf_from=postings if idf else None)


def sparse_scan_scores(
    records: DataFrame,
    queries: list[tuple[list[int], list[float]]],
    sparse_col: str = "sparse",
    id_col: str = "id",
    idf: bool = False,
    corpus: DataFrame | None = None,
    n_docs: float | None = None,
) -> DataFrame:
    """``(query_id, id, score)`` by dot product for each record of
    ``records`` sharing a term with query ``query_id`` (its position in
    ``queries``, driver-side ``(indices, values)`` with strictly ascending
    indices) — the same support and scores as the postings join, computed
    per record in the JVM: no explode, no join and no shuffle of postings.

    Per record, ``arrays_overlap`` with the query's indices (a hash probe)
    keeps the records that share a term; for those, the record's and the
    query's ``(idx, side, weight, idf)`` entries are merged by one sort of
    the two ascending runs (TimSort merges two runs in linear time) and
    one walk carries the last query entry's weight and IDF onto the
    record entries of its index (a query entry sorts before the record's
    entries of the same index): cost linear in the record's postings plus
    the query's terms. A record that repeats an index adds one product
    per repeat, as the postings join does, and counts once in df.

    ``idf`` scales the query weights by ``ln((n - df + 0.5) / (df + 0.5) +
    1)`` (idf.rs:24-31): each query term's df is counted by ONE aggregate
    over ``corpus`` (the unfiltered records; default ``records``), and
    ``n`` is ``n_docs`` when given (a sparse index's compaction-time
    count), else the corpus records with at least one posting. Products
    multiply ``doc_w * q_w * idf`` in the postings join's order."""
    indices = F.col(f"{sparse_col}.indices")
    vocab = sorted({i for idx, _ in queries for i in idx})
    if idf:
        corpus = records if corpus is None else corpus
        shared = corpus.select(
            F.array_intersect(indices, F.array(*[F.lit(t) for t in vocab])).alias("__s"),
            (F.size(indices) > 0).alias("__has"),
        )
        counts = [F.count(F.when(F.array_contains("__s", t), 1)) for t in vocab]
        row = shared.agg(*counts, F.count(F.when(F.col("__has"), 1))).first()
        df = dict(zip(vocab, row))
        n = float(n_docs) if n_docs is not None else float(row[-1])
    terms = [
        F.array(*[
            F.struct(
                F.lit(t).alias("idx"), F.lit(0).alias("side"),
                F.lit(v).cast("float").cast("double").alias("w"),
                (idf_expr(F.lit(float(df[t])), F.lit(n)) if idf else F.lit(1.0)).alias("idf"),
            )
            for t, v in zip(idx, vals)
        ])
        for idx, vals in queries
    ]
    overlap = [F.array(*[F.lit(t) for t in idx]) for idx, _ in queries]
    if len(queries) == 1:
        scan = records.select("*", F.lit(0).alias("query_id"))
        query, query_indices = terms[0], overlap[0]
    else:
        qdf = local_frame(
            records.sparkSession, [(i,) for i in range(len(queries))], "query_id INT"
        )
        scan = records.crossJoin(F.broadcast(qdf))
        query, query_indices = (
            F.element_at(F.array(*arrs), F.col("query_id") + 1) for arrs in (terms, overlap)
        )
    doc = F.zip_with(
        indices, F.col(f"{sparse_col}.values"),
        lambda t, v: F.struct(
            t.alias("idx"), F.lit(1).alias("side"), v.cast("double").alias("w"),
            F.lit(1.0).alias("idf"),
        ),
    )

    def step(acc, e):
        # acc carries the last query entry (idx, w, idf) and the score
        is_query = e["side"] == 0
        hit = ~is_query & (e["idx"] == acc["idx"])
        return F.struct(
            *[F.when(is_query, e[f]).otherwise(acc[f]).alias(f) for f in ("idx", "w", "idf")],
            F.when(hit, acc["score"] + e["w"] * acc["w"] * acc["idf"])
            .otherwise(acc["score"]).alias("score"),
        )

    start = F.struct(
        F.lit(None).cast("int").alias("idx"), F.lit(0.0).alias("w"),
        F.lit(1.0).alias("idf"), F.lit(0.0).alias("score"),
    )
    score = F.aggregate(F.sort_array(F.concat(doc, query)), start, step, lambda acc: acc["score"])
    return scan.filter(F.arrays_overlap(indices, query_indices)).select(
        "query_id", F.col(id_col).alias("id"), score.alias("score")
    )


# ---------------------------------------------------------------------------
# Persisted TERM-LEVEL BM25 index: (term, id, tf, dl) partitioned by
# term-hash bucket + corpus stats (n_docs, avgdl) as index metadata — the
# full-text analog of the hashed sparse index below. One bucket-pruned scan
# answers a BM25 query; the three corpus-wide tokenize aggregates of the
# inline path happen once, at build time (the reference builds its sparse/
# FTS blockfiles at compaction the same way).
# ---------------------------------------------------------------------------


def _py_term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of md5_long(term) % n_buckets (query terms are
    literals, so buckets are known without a Spark job)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def write_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "document",
    id_col: str = "id",
) -> dict:
    """Build + persist the term-level index; returns the stats dict
    ``{n_docs, avgdl, n_buckets}`` the caller should store as index
    metadata (the reference's Idf reads these from the index, idf.rs:92).
    """
    from ..functions.text import md5_long

    # persist the tokenization for the build's duration: the tf write and
    # the corpus-stats aggregate share one tokenize pass (offline builds
    # may cache; queries never do)
    toks = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).persist()
    try:
        tf = (
            toks.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
            .groupBy("id", "dl", "term")
            .agg(F.count("*").alias("tf"))
            .withColumn("bucket", (md5_long(F.col("term")) % n_buckets).cast("int"))
        )
        tf.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)
        stats = toks.select(F.size("toks").alias("dl")).agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl")
        ).first()
    finally:
        toks.unpersist()
    return {
        "n_docs": float(stats["n"]),
        "avgdl": float(stats["avgdl"]),
        "n_buckets": int(n_buckets),
    }


def bm25_index_topk(
    indexed_tf: DataFrame,
    query_terms: list[str],
    k: int,
    n_docs: float,
    avgdl: float,
    n_buckets: int = 64,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_decimals: int | None = 6,
) -> DataFrame:
    """BM25 top-k over the persisted term index: the scan reads only the
    query terms' bucket partitions; per-term df falls out of the scoring
    join's (term) window (rows are unique per (id, term)); corpus stats are
    the index metadata scalars. Same scores as :func:`bm25_topk`.
    """
    from pyspark.sql import Window

    spark = indexed_tf.sparkSession
    buckets = sorted({_py_term_bucket(t, n_buckets) for t in query_terms})
    pruned = indexed_tf.filter(F.col("bucket").isin(buckets)).drop("bucket")
    qdf = F.broadcast(local_frame(spark, [(t,) for t in set(query_terms)], "term STRING"))
    joined = pruned.join(qdf, "term")
    w = Window.partitionBy("term")
    joined = joined.withColumn("__df", F.count("*").over(w).cast("double"))
    contrib = idf_expr(F.col("__df"), F.lit(float(n_docs))) * (
        F.col("tf")
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    scored = joined.groupBy("id").agg(F.sum(contrib).alias("score"))
    if round_decimals is not None:
        scored = scored.select(
            "id", (F.round(F.col("score"), round_decimals) + F.lit(0.0)).alias("score")
        )
    return topk_per_group(scored, [], [F.col("score").desc(), F.col("id").asc()], k)


# ---------------------------------------------------------------------------
# Persisted posting-list index with term-bucket partition pruning — the
# sparse analog of the IVF layout (reference sparse index blockfiles,
# rust/index/src/sparse/reader.rs: per-term posting-list reads). A query
# touches only the partitions holding its terms' buckets.
# ---------------------------------------------------------------------------


def explode_postings(
    records: DataFrame, id_col: str = "id", sparse_col: str = "sparse"
) -> DataFrame:
    """``(id, idx, doc_w)`` posting rows from SparseVector structs."""
    return records.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.arrays_zip(
                F.col(f"{sparse_col}.indices").alias("idx"),
                F.col(f"{sparse_col}.values").alias("val"),
            )
        ).alias("p"),
    ).select("id", F.col("p.idx").alias("idx"), F.col("p.val").cast("double").alias("doc_w"))


def write_sparse_index(
    postings: DataFrame, path: str, n_buckets: int = 64
) -> None:
    """Persist postings PARTITIONED BY ``bucket = idx % n_buckets``.

    At 100 TB each bucket directory holds ~1/n_buckets of the postings;
    a query's terms map to a handful of buckets, which reach the scan as
    partition filters — the sparse-index read cost is proportional to the
    query's vocabulary, not the corpus.
    """
    postings.withColumn("bucket", (F.col("idx") % n_buckets).cast("int")).repartition(
        "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def read_sparse_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def sparse_index_topk(
    indexed_postings: DataFrame,
    query: DataFrame,
    k: int,
    n_buckets: int = 64,
    sparse_col: str = "sparse",
    query_id_col: str = "query_id",
    round_decimals: int | None = 6,
    idf: bool = False,
    n_docs: float | None = None,
    candidates: DataFrame | None = None,
    query_indices: list[int] | None = None,
) -> DataFrame:
    """Top-``k`` dot-product per query over the persisted index: the
    :func:`sparse_index_scores`, rounded, two-stage top-k."""
    scored = sparse_index_scores(
        indexed_postings, query, n_buckets, sparse_col, query_id_col,
        idf=idf, n_docs=n_docs, candidates=candidates, query_indices=query_indices,
    )
    return _score_topk(scored, k, round_decimals)


def sparse_index_scores(
    indexed_postings: DataFrame,
    query: DataFrame,
    n_buckets: int = 64,
    sparse_col: str = "sparse",
    query_id_col: str = "query_id",
    idf: bool = False,
    n_docs: float | None = None,
    candidates: DataFrame | None = None,
    query_indices: list[int] | None = None,
) -> DataFrame:
    """``(query_id, id, score)`` dot products over the persisted index,
    reading only the query terms' bucket partitions (static pruning via an
    ``isin`` literal on the partition column — the sparse-index read cost
    is proportional to the query's vocabulary, not the corpus, like the
    reference's per-term posting-list reads, rust/index/src/sparse/reader.rs).

    ``query_indices``: the query's term indices when known driver-side
    (they always are — queries arrive as literals); skips the collect.
    ``idf``: scale query weights by corpus IDF; per-term df comes from the
    pruned buckets (exact — a term's postings all live in its bucket) and
    the corpus doc count from ``n_docs`` (index metadata; falls back to a
    full-index distinct count). ``candidates``: see :func:`_dot_scores`.
    """
    qpost = _query_postings(query, sparse_col, query_id_col)
    if query_indices is None:
        query_indices = [int(r["idx"]) for r in qpost.select("idx").distinct().collect()]
    buckets = sorted({int(i) % n_buckets for i in query_indices})
    pruned = indexed_postings.filter(F.col("bucket").isin(buckets)).drop("bucket")
    if idf and n_docs is None:
        idf_src: DataFrame | None = indexed_postings.drop("bucket")
    else:
        idf_src = pruned if idf else None
    return _dot_scores(pruned, qpost, candidates=candidates, idf_from=idf_src, n_docs=n_docs)
