"""IVF (SPANN-style) approximate nearest neighbor — the 100-TB vector path.

The reference's distributed ANN is SPANN (``rust/index/src/spann/types.rs``,
orchestration ``spann_knn.rs``): an HNSW over centroid heads -> fetch
posting lists -> brute-force within them. HNSW graph builds don't map to
DataFrames (pointer-chasing, global mutable state) — which is exactly why
Chroma itself moved to SPANN for its distributed tier. We re-express SPANN's
structure natively:

- **build**: seeded k-means (driver-side numpy) -> ``centroids`` table
  ``(centroid_id, centroid)`` + ``postings`` table = records tagged with
  their nearest centroid, written PARTITIONED BY centroid_id. At 100 TB the
  k-means runs on a sample and assignment is one broadcast-join pass.
- **search**: per query, rank centroids by distance (the centroid table is
  tiny — broadcast), keep ``nprobe``; join those (query, centroid) pairs to
  the postings on centroid_id — Catalyst prunes the scan to the probed
  partitions (SPANN's posting-list fetch as dynamic partition pruning) —
  then exact distance + two-stage top-k within ~``nprobe/n_lists`` of the
  data.
- **recall**: tested ≥ 0.95 @ k vs exact brute force, the reference's own
  invariant (``chromadb/test/property/invariants.py:281``).

nprobe/n_lists map to the reference's SPANN search/build knobs
(``collection_schema.rs:3049-3090``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.distance import distance
from ..operators.topk import topk_per_group


def _train_centroids_numpy(
    records: DataFrame,
    n_lists: int,
    vec_col: str,
    seed: int,
    max_iter: int,
    max_sample: int,
    restarts: int = 4,
) -> "list[list[float]]":
    """Driver-side seeded k-means over a bounded sample.

    SPANN itself trains its centroid heads on a sample of the corpus
    (``rust/index/src/spann/types.rs`` builds heads incrementally, not over
    every vector), so the training set here is a sample BY DESIGN: at 100 TB
    we pull ``max_sample`` vectors (a few hundred MB driver-side ceiling)
    via a seeded distributed sample, and only the *assignment* pass touches
    all records (one broadcast join in :func:`build_ivf`). Training
    driver-side with numpy avoids MLlib's one-Spark-job-per-iteration
    scheduling, which dominates build time whenever the sample is modest —
    the math is identical (Lloyd's, k-means++-style seeding).
    """
    import numpy as np

    n_rows = records.count()
    frac = min(1.0, max_sample / max(1, n_rows))
    sample = records.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=min(1.0, frac * 1.2), seed=seed).limit(max_sample)
    # Arrow-batched transfer (columnar), not the pickled RDD collect path
    x = np.stack(sample.toPandas().iloc[:, 0].to_numpy()).astype(np.float64)
    k = min(n_lists, len(x))
    # ||x||^2 precomputed once: both seeding and Lloyd's use the BLAS form
    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 (k=1024 over a 128k-row sample is
    # a GEMM, not a Python loop — this is what keeps a SIFT1M-scale build in
    # seconds-per-iteration driver-side).
    x2 = np.einsum("ij,ij->i", x, x)

    def _mean_update(assign, centers):
        # per-cluster mean via bincount per dimension (vectorized over k)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.empty_like(centers)
        for j in range(x.shape[1]):
            sums[:, j] = np.bincount(assign, weights=x[:, j], minlength=k)
        empty = counts == 0
        counts[empty] = 1.0
        new = sums / counts[:, None]
        new[empty] = centers[empty]  # empty cluster keeps its old centroid
        return new

    def _one_run(run_seed: int):
        rng = np.random.default_rng(run_seed)
        # k-means++ style seeding: first centroid uniform, rest D^2-weighted
        idx = [int(rng.integers(len(x)))]
        d2 = np.maximum(x2 - 2.0 * (x @ x[idx[0]]) + x2[idx[0]], 0.0)
        for _ in range(1, k):
            p = d2 / d2.sum() if d2.sum() > 0 else None
            idx.append(int(rng.choice(len(x), p=p)))
            c = x[idx[-1]]
            d2 = np.minimum(d2, np.maximum(x2 - 2.0 * (x @ c) + x2[idx[-1]], 0.0))
        centers = x[idx].copy()
        for _ in range(max_iter):
            assign = np.argmin(x @ centers.T * -2.0 + np.sum(centers**2, axis=1), axis=1)
            new = _mean_update(assign, centers)
            if np.allclose(new, centers, atol=1e-7):
                centers = new
                break
            centers = new
        assign = np.argmin(x @ centers.T * -2.0 + np.sum(centers**2, axis=1), axis=1)
        inertia = float(np.sum((x - centers[assign]) ** 2))
        return centers, inertia

    # several seeded restarts, keep the lowest-inertia run (sklearn's n_init
    # discipline) — driver-side cost only, and what recovers the quality of
    # MLlib's kmeans|| initialization
    best, best_inertia = None, float("inf")
    for i in range(max(1, restarts)):
        centers, inertia = _one_run(seed + i)
        if inertia < best_inertia:
            best, best_inertia = centers, inertia
    return [[float(v) for v in c] for c in best]


def build_ivf(
    records: DataFrame,
    n_lists: int,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    replicas: int = 2,
    max_train_sample: int = 262_144,
    restarts: int = 4,
    assign_method: str = "expr",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(centroids, postings)``.

    centroids: ``(centroid_id INT, centroid ARRAY<FLOAT>)`` — small.
    postings:  records + ``centroid_id`` — repartitioned by centroid_id so a
    downstream ``.write.partitionBy("centroid_id")`` gives one prunable
    partition per list.

    ``replicas > 1`` is SPANN's closure/boundary multi-assignment
    (``rust/index/src/spann/types.rs`` RNG-rule replication): each vector
    joins its ``replicas`` nearest posting lists, recovering recall that
    single-assignment IVF loses on cluster boundaries, at ``replicas``×
    storage. Assignment is a broadcast join of the centroid table against
    the records — one pass, no record-side shuffle before the final
    repartition-by-list.
    """
    centers = _train_centroids_numpy(
        records, n_lists, vec_col, seed, max_iter, max_train_sample, restarts
    )
    spark = records.sparkSession
    centroids = local_frame(
        spark,
        [(i, c) for i, c in enumerate(centers)],
        "centroid_id INT, centroid ARRAY<FLOAT>",
    )
    postings = assign_to_centroids(
        records, centroids, replicas, id_col=id_col, vec_col=vec_col, method=assign_method
    )
    return centroids, postings


def assign_to_centroids(
    records: DataFrame,
    centroids: DataFrame,
    replicas: int = 2,
    id_col: str = "id",
    vec_col: str = "embedding",
    method: str = "expr",
) -> DataFrame:
    """Tag each record with its ``replicas`` nearest posting lists. This is
    both the build-time assignment pass and the incremental-insert pass
    (SPANN appends new vectors to existing heads,
    ``rust/index/src/spann/types.rs``; retraining is a separate decision).

    ``method="expr"`` (default): broadcast crossJoin + local window — pure
    Catalyst expressions, bit-identical to the DuckDB oracle twins.

    ``method="arrow"``: Arrow-batched numpy GEMM argmin — each executor
    batch computes ``X @ C.T`` against the (tiny, task-local) centroid
    matrix. The expression form evaluates n_lists array-lambda distances
    per record (O(N * n_lists * dim) interpreted element ops — measured
    ~2.8 h extrapolated for 1M x 128-d x 1024 lists); the GEMM form is the
    same arithmetic as one BLAS call per batch (~tens of seconds). Use it
    for bulk builds at SIFT1M-and-up scale; ordering ties between the two
    forms can differ in the last float ulp, which is why the oracle-checked
    paths keep ``expr``."""
    if method == "arrow":
        assigned = _assign_arrow(records, centroids, replicas, id_col, vec_col)
    else:
        cdist = distance(F.col(vec_col), F.col("centroid"), "l2")
        assigned = topk_per_group(
            records.crossJoin(F.broadcast(centroids)).withColumn("__cdist", cdist),
            [id_col],
            [F.col("__cdist").asc(), F.col("centroid_id").asc()],
            max(1, replicas),
            two_stage=False,  # per-record group: n_lists rows, local window
        ).drop("__cdist", "centroid")
    return assigned.repartition("centroid_id")


def _assign_arrow(
    records: DataFrame,
    centroids: DataFrame,
    replicas: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """GEMM assignment: one ``mapInPandas`` pass, centroid matrix shipped in
    the closure (n_lists x dim floats — a few MB at most), 1 -> replicas row
    fan-out, no shuffle. Ties resolved (dist asc, centroid_id asc) like the
    expression path."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = centroids.select("centroid_id", "centroid").orderBy("centroid_id").collect()
    c_mat = np.array([r["centroid"] for r in cent], dtype=np.float64)
    c_ids = np.array([r["centroid_id"] for r in cent], dtype=np.int64)
    c2 = np.einsum("ij,ij->i", c_mat, c_mat)
    r = max(1, min(replicas, len(c_ids)))
    pool = min(r + 8, len(c_ids))  # tie-resolution margin before lexsort

    out_schema = StructType(records.schema.fields + [StructField("centroid_id", IntegerType(), False)])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # ||x-c||^2 - ||x||^2 = -2 x.c + ||c||^2: same argmin, one GEMM
            d = x @ c_mat.T * -2.0 + c2
            part = np.argpartition(d, pool - 1, axis=1)[:, :pool]
            dp = np.take_along_axis(d, part, axis=1)
            ip = c_ids[part]
            order = np.lexsort((ip, dp), axis=1)[:, :r]
            chosen = np.take_along_axis(ip, order, axis=1)
            out = pdf.loc[pdf.index.repeat(r)].reset_index(drop=True)
            out["centroid_id"] = chosen.ravel().astype("int32")
            yield out

    return records.mapInPandas(assign, out_schema)


def write_ivf(centroids: DataFrame, postings: DataFrame, path: str) -> None:
    """Persist the index: postings PARTITIONED BY centroid_id (one prunable
    directory per posting list — SPANN's posting-list files), centroids as a
    single small parquet. At 100 TB this is the layout that lets a query
    touch ``nprobe/n_lists`` of the data: the probed centroid ids reach the
    scan as partition filters, so unprobed lists are never read."""
    postings.write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/postings")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    from ..layout import stamp_layout

    stamp_layout(path, "ivf")


def read_ivf(spark, path: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/postings"),
    )


def probed_postings(
    postings: DataFrame, centroid_ids: list[int]
) -> DataFrame:
    """Static partition pruning: when the probe set is known driver-side
    (it is — the centroid table is tiny and ranked on the driver or via a
    collected broadcast), an ``isin`` literal filter reaches the parquet
    scan as a PartitionFilter. ``ivf_search`` uses the join form (dynamic
    pruning); this is the explicit form for pre-collected probes."""
    return postings.filter(F.col("centroid_id").isin([int(c) for c in centroid_ids]))


def probe_lists(q: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """The ``nprobe`` nearest posting lists per query: ``q``'s columns
    (``__qid``, ``__qvec`` and any query-side code column) plus
    ``centroid_id``. Centroid ranking always uses l2 (k-means trains in l2)."""
    cdist = distance(F.col("centroid"), F.col("__qvec"), "l2")
    return topk_per_group(
        q.crossJoin(F.broadcast(centroids)).select(
            *q.columns, "centroid_id", cdist.alias("__cdist")
        ),
        ["__qid"],
        [F.col("__cdist").asc(), F.col("centroid_id").asc()],
        nprobe,
        two_stage=False,  # centroid set is tiny; one window pass
    ).select(*q.columns, "centroid_id")


def ivf_search(
    centroids: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_decimals: int | None = 6,
    allowed_ids: DataFrame | None = None,
    excluded_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` per query over the ``nprobe`` nearest posting lists.

    Output: ``(query_id, id, dist, rank)`` — same shape as exact_knn so the
    two are drop-in interchangeable (and recall-comparable).

    Centroid ranking always uses l2 (k-means trains in l2); within-list
    scoring uses ``space``, matching SPANN (centroid heads are geometric).

    ``allowed_ids`` is the reference's filter-before-ANN allowed-ids set
    (``knn_filter.rs`` bitmaps consumed by the index search) — a semi-join
    applied within the probed lists. ``excluded_ids`` removes records whose
    index entry is stale (touched by the un-compacted WAL tail); the live
    versions re-enter through the log-side brute force + knn_merge.
    """
    q = queries.select(F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec"))
    probed = postings.join(F.broadcast(probe_lists(q, centroids, nprobe)), "centroid_id")
    if allowed_ids is not None:
        probed = probed.join(allowed_ids.select(F.col(id_col)), id_col, "semi")
    if excluded_ids is not None:
        probed = probed.join(excluded_ids.select(F.col(id_col)), id_col, "anti")
    d = distance(F.col(vec_col), F.col("__qvec"), space)
    if round_decimals is not None:
        d = F.round(d, round_decimals) + F.lit(0.0)
    candidates = (
        probed.select(F.col("__qid").alias(query_id_col), F.col(id_col), d.alias("dist"))
        # replicated records can surface from several probed lists — collapse
        .groupBy(query_id_col, id_col)
        .agg(F.min("dist").alias("dist"))
    )
    return topk_per_group(
        candidates,
        [query_id_col],
        [F.col("dist").asc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, query_id_col: str = "query_id", id_col: str = "id") -> float:
    """Fraction of exact top-k ids recovered by the approximate search
    (invariants.py:277-300 ``ann_accuracy``)."""
    e = exact.select(F.col(query_id_col).alias("q"), F.col(id_col).alias("i"))
    a = approx.select(F.col(query_id_col).alias("q"), F.col(id_col).alias("i"))
    total = e.count()
    if total == 0:
        return 1.0
    hit = e.join(a, ["q", "i"], "left_semi").count()
    return hit / total
