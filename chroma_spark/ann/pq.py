"""Product quantization (IVF-PQ) — the third quantization tier.

The reference ships a *spectrum* of quantized codes (RaBitQ 1-bit and
multi-bit with corrective factors, ``rust/index/src/quantization/mod.rs``)
under its SPANN search. Our tiers mirror that spectrum with public
techniques: sign-bit (quantize.py, 1 bit/dim), SQ4 (4 bits/dim), and this
module's PQ (FAISS-style product quantization — ``m`` subspaces, a
``k_codes``-entry codebook each, so a 128-d vector becomes ``m`` bytes at
``k_codes=256``: 16 bytes/vector, 32x smaller than float32, with far
tighter distance estimates than sign bits at the same size).

Spark mapping — every piece lands on the engine-idiomatic path:

- **train**: per-subspace k-means over a bounded driver-side sample
  (codebooks are ``m * k_codes * dim/m`` floats — a few hundred KB).
- **encode**: one Arrow ``mapInPandas`` pass; per batch, each subspace's
  nearest code is one numpy GEMM argmin (same reasoning as
  ``ivf._assign_arrow`` — the expression form would evaluate
  ``m * k_codes`` interpreted array distances per record).
- **search (ADC)**: per query, a ``m * k_codes`` lookup table of
  subspace distances (tiny, computed in one Arrow batch over the query
  set, carried as an array column on the broadcast query side); candidate
  distance is then a pure Catalyst ``aggregate`` over the code bytes —
  ``sum_m lut[m * k_codes + code[m]]`` — JVM-side, no Python per
  candidate, and the candidate scan reads only the ``m``-byte code column.
  ADC is always l2 (codebooks train in l2, like centroid heads); the exact
  re-rank runs in the caller's requested space.

Composes with IVF exactly like the other tiers: probe lists, ADC-prune
within probed postings, exact re-rank (the reference's quantized-SPANN
pipeline shape, ``operators/quantized_spann_*.rs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rerank import coded_search, rounded


def train_pq(
    records: DataFrame,
    m: int = 16,
    k_codes: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 131_072,
    max_iter: int = 15,
) -> "list[list[list[float]]]":
    """Per-subspace Lloyd's over a seeded bounded sample. Returns
    ``codebooks[m][k_codes][dim//m]``."""
    import numpy as np

    n_rows = records.count()
    frac = min(1.0, max_sample / max(1, n_rows))
    sample = records.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=min(1.0, frac * 1.2), seed=seed).limit(max_sample)
    x = np.stack(sample.toPandas().iloc[:, 0].to_numpy()).astype(np.float64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for mi in range(m):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        k = min(k_codes, len(xs))
        rng = np.random.default_rng([seed, mi])
        centers = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(max_iter):
            d = xs @ centers.T * -2.0 + np.einsum("ij,ij->i", centers, centers)
            assign = np.argmin(d, axis=1)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            sums = np.zeros_like(centers)
            for j in range(dsub):
                sums[:, j] = np.bincount(assign, weights=xs[:, j], minlength=k)
            empty = counts == 0
            counts[empty] = 1.0
            new = sums / counts[:, None]
            new[empty] = centers[empty]
            if np.allclose(new, centers, atol=1e-7):
                centers = new
                break
            centers = new
        books.append([[float(v) for v in c] for c in centers])
    return books


def encode_pq(
    records: DataFrame,
    codebooks: "list[list[list[float]]]",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """records + ``pq_code ARRAY<INT>`` (length m). One Arrow pass, one
    GEMM argmin per (batch, subspace). Ties go to the lowest code id
    (numpy argmin's first-minimum rule)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    b2 = [np.einsum("ij,ij->i", b, b) for b in books]
    out_schema = StructType(
        records.schema.fields + [StructField(code_col, ArrayType(IntegerType()), False)]
    )

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for mi in range(m):
                xs = x[:, mi * dsub : (mi + 1) * dsub]
                codes[:, mi] = np.argmin(xs @ books[mi].T * -2.0 + b2[mi], axis=1)
            out = pdf.copy()
            out[code_col] = list(codes)
            yield out

    return records.mapInPandas(enc, out_schema)


def _with_lut(
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    query_vec_col: str,
    lut_col: str = "__lut",
) -> DataFrame:
    """Attach the flattened ADC lookup table (ARRAY<DOUBLE>, m * k_codes
    entries): ``lut[mi * k_codes + j] = ||q_sub_mi - codebook[mi][j]||^2``.
    One Arrow batch over the (small, broadcast-bound) query side."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m, k_codes, dsub = len(books), books[0].shape[0], books[0].shape[1]
    b2 = [np.einsum("ij,ij->i", b, b) for b in books]
    out_schema = StructType(
        queries.schema.fields + [StructField(lut_col, ArrayType(DoubleType()), False)]
    )

    def lut(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf[query_vec_col].to_numpy()).astype(np.float64)
            tab = np.empty((len(q), m * k_codes), dtype=np.float64)
            for mi in range(m):
                qs = q[:, mi * dsub : (mi + 1) * dsub]
                q2 = np.einsum("ij,ij->i", qs, qs)
                d = q2[:, None] - 2.0 * (qs @ books[mi].T) + b2[mi]
                tab[:, mi * k_codes : (mi + 1) * k_codes] = np.maximum(d, 0.0)
            out = pdf.copy()
            out[lut_col] = list(tab)
            yield out

    return queries.mapInPandas(lut, out_schema)


def pq_adc_expr(code_col: str, lut_col: str, m: int, k_codes: int) -> F.Column:
    """ADC distance: ``sum_mi lut[mi * k_codes + code[mi]]`` — a Catalyst
    ``aggregate`` over the code entries; JVM-side, whole-stage friendly."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, mi: acc
        + F.element_at(
            F.col(lut_col),
            mi * F.lit(k_codes) + F.element_at(F.col(code_col), mi + 1) + 1,
        ),
    )


def _pq_query(queries, codebooks, code_col, query_id_col, query_vec_col, round_decimals):
    """Query side ``(__qid, __qvec, __lut)`` of the PQ tier and its ADC
    distance; the LUT rides the broadcast query side."""
    m, k_codes = len(codebooks), len(codebooks[0])
    q = _with_lut(
        queries.select(
            F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")
        ),
        codebooks,
        "__qvec",
    )
    return q, rounded(pq_adc_expr(code_col, "__lut", m, k_codes), round_decimals)


def pq_search(
    coded_records: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int,
    rerank_factor: int = 4,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    code_col: str = "pq_code",
    round_decimals: int | None = 6,
) -> DataFrame:
    """ADC prefilter (top ``rerank_factor * k``) -> exact re-rank top-k.
    Output ``(query_id, id, dist, rank)`` — drop-in interchangeable with
    the other KNN operators."""
    q, adc = _pq_query(queries, codebooks, code_col, query_id_col, query_vec_col, round_decimals)
    return coded_search(
        coded_records, q, adc, "__lut", k, rerank_factor, space, id_col, vec_col,
        query_id_col, round_decimals,
    )


def ivf_pq_search(
    centroids: DataFrame,
    coded_postings: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int,
    nprobe: int,
    rerank_factor: int = 4,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    code_col: str = "pq_code",
    round_decimals: int | None = 6,
    allowed_ids: DataFrame | None = None,
    excluded_ids: DataFrame | None = None,
) -> DataFrame:
    """Full IVF-PQ pipeline: nprobe centroid pruning -> ADC prefilter
    within the probed lists -> exact re-rank. ``allowed_ids`` /
    ``excluded_ids``: see ``ivf.ivf_search`` (filter-before-ANN and
    WAL-tail staleness exclusion)."""
    q, adc = _pq_query(queries, codebooks, code_col, query_id_col, query_vec_col, round_decimals)
    return coded_search(
        coded_postings, q, adc, "__lut", k, rerank_factor, space, id_col, vec_col,
        query_id_col, round_decimals, centroids, nprobe, allowed_ids, excluded_ids,
    )
