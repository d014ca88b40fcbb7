"""Deterministic distinct-count sketches (KMV / bottom-k, Bar-Yossef et
al. 2002) for corpus statistics at 100 TB.

Exact ``COUNT(DISTINCT x)`` needs a full shuffle of every distinct value;
a KMV sketch is a bounded ``k``-row mergeable summary per group: keep the
``k`` smallest 60-bit md5 hashes, and if the k-th smallest normalized
hash is ``h_k`` then ``(k-1)/h_k`` estimates the distinct count with
relative error ~ ``1/sqrt(k)`` (~6% at k=256). Groups with fewer than
``k`` distinct values are EXACT (the sketch degenerates to the distinct
set itself).

Why KMV and not Spark's ``approx_count_distinct``: HLL++ registers are
engine-internal — DuckDB's approx_count_distinct uses a different
sketch, so the two engines could never agree bit-for-bit. md5 bottom-k
is deterministic and engine-portable (the same discipline as every other
cross-engine hash in this repo, ``functions/text.md5_long``), so the
estimate itself is oracle-checkable — and mergeability is trivial
algebra: the bottom-k of a union is the bottom-k of the concatenated
per-part bottom-ks (pytest-pinned), which is what makes the sketch a
partial aggregate at cluster scale.

Reference parity note: chroma has no sketching surface — this extends
the beyond-the-reference pipeline statistics (SURVEY §7) alongside
``statistics``/``ngram_topk``.

Scale shape — three tiers, same output (pytest-pinned identical):
- ``kmv_distinct`` (expr, the DuckDB-parity oracle path): global distinct
  then two-stage bottom-k. Correct everywhere, but the distinct shuffles
  every distinct value — at 80M distinct values that costs as much as
  exact counting (measured, BASELINE.md r6).
- ``kmv_distinct_arrow``: ``mapInPandas`` holds one bounded bottom-k set
  per group per input partition (state across the partition's Arrow
  batches, memory O(groups x k)) and ships only ``partitions x groups x
  k`` survivor rows to the merge — no corpus-sized shuffle, but the whole
  hashed stream crosses the Arrow boundary once.
- ``kmv_distinct_filtered``: a sampled estimate bounds each group's
  k-th-smallest hash, a literal JVM ``<`` filter keeps ~``safety*k``
  candidates per group, and the exact bottom-k runs on those — no big
  shuffle AND no Arrow pass, at the price of scanning the input twice.

Which tier wins is workload-shaped (all three measured at 88M grams,
BASELINE.md r6): when the hashed stream is DERIVED (an explode +
concat + md5), materializing it dominates everything and the one-scan
arrow tier is fastest; when the value is a stored column (rescan ~free)
or the frame is cached, the filtered tier's zero-exchange double scan
wins; the expr form stays the oracle path. On a real cluster the
expr/exact 80M-row network exchange costs far more than local[32]'s
in-memory shuffle, widening both bulk tiers' margin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frames import local_frame
from ..functions.text import md5_long, md5_long_sql

# md5_long is 60 bits: hashes normalize to [0, 1) by this constant
_HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    value: Column,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group distinct-count estimate: ``(group..., n_kept,
    est_distinct)``. ``n_kept < k`` means the group was exact."""
    groups = list(group_cols or [])
    from .topk import topk_per_group

    hashed = df.select(*groups, md5_long(value).alias("__h")).distinct()
    bottom = topk_per_group(hashed, groups, [F.col("__h").asc()], k)
    est = F.when(
        F.count("*") < k, F.count("*").cast("double")
    ).otherwise(F.lit(float(k - 1)) / (F.max("__h").cast("double") / F.lit(_HASH_SPACE)))
    agg = bottom.groupBy(*groups).agg(
        F.count("*").cast("long").alias("n_kept"),
        (F.round(est, 6) + F.lit(0.0)).alias("est_distinct"),
    )
    return agg


def kmv_distinct_sql(
    rows_sql: str,
    value_sql: str,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> str:
    """DuckDB twin over ``rows_sql``; ``value_sql`` is the hashed
    expression, ``group_cols`` must be columns of ``rows_sql``."""
    groups = list(group_cols or [])
    gsel = ", ".join(f'"{g}"' for g in groups)
    gpre = f"{gsel}, " if groups else ""
    part = f"PARTITION BY {gsel} " if groups else ""
    return f"""
WITH __rows AS ({rows_sql}),
__h AS (SELECT DISTINCT {gpre}{md5_long_sql(value_sql)} AS __h FROM __rows),
__bot AS (
  SELECT * FROM (
    SELECT {gpre}__h, row_number() OVER ({part}ORDER BY __h ASC) AS __rn FROM __h
  ) WHERE __rn <= {int(k)}
)
SELECT {gpre}CAST(count(*) AS BIGINT) AS n_kept,
       (round(CASE WHEN count(*) < {int(k)} THEN CAST(count(*) AS DOUBLE)
              ELSE {float(k - 1)!r} / (CAST(max(__h) AS DOUBLE) / {_HASH_SPACE!r}) END, 6) + 0.0)
         AS est_distinct
FROM __bot{f" GROUP BY {gsel}" if groups else ""}"""


def kmv_merge(sketches: DataFrame, k: int, group_cols: list[str] | None = None) -> DataFrame:
    """Merge per-part bottom-k hash sets (``(group..., __h)`` rows) into
    the union's sketch estimate — the partial-aggregate form: bottom-k of
    the concatenation IS the union's bottom-k."""
    groups = list(group_cols or [])
    from .topk import topk_per_group

    bottom = topk_per_group(sketches.distinct(), groups, [F.col("__h").asc()], k)
    est = F.when(
        F.count("*") < k, F.count("*").cast("double")
    ).otherwise(F.lit(float(k - 1)) / (F.max("__h").cast("double") / F.lit(_HASH_SPACE)))
    return bottom.groupBy(*groups).agg(
        F.count("*").cast("long").alias("n_kept"),
        (F.round(est, 6) + F.lit(0.0)).alias("est_distinct"),
    )


def kmv_hashes(
    df: DataFrame, value: Column, k: int = 256, group_cols: list[str] | None = None
) -> DataFrame:
    """The raw sketch rows ``(group..., __h)`` (bottom-k hash set) — what
    a shard would ship to a merge step."""
    groups = list(group_cols or [])
    from .topk import topk_per_group

    hashed = df.select(*groups, md5_long(value).alias("__h")).distinct()
    return topk_per_group(hashed, groups, [F.col("__h").asc()], k)


def kmv_hashes_arrow(
    df: DataFrame,
    value: Column,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Partial KMV sketches with NO corpus-wide shuffle: ``mapInPandas``
    keeps one bounded bottom-k set per group PER INPUT PARTITION (state
    carried across the partition's Arrow batches — memory O(groups x k))
    and emits only the k-row survivors; :func:`kmv_merge` folds them into
    the global sketch. This is the cluster shape: the expr form
    (:func:`kmv_distinct`) shuffles every distinct value — fine as the
    DuckDB-parity oracle, but at 90M+ distinct values that shuffle costs
    as much as exact counting (measured, BASELINE.md), while the partial
    form ships ``partitions x groups x k`` rows total."""
    import pandas as pd

    groups = list(group_cols or [])
    hashed = df.select(*groups, md5_long(value).alias("__h"))
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
    )

    def part(batches):
        import numpy as np

        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if groups:
                for key, grp in pdf.groupby(groups, sort=False):
                    h = grp["__h"].to_numpy()
                    prev = state.get(key)
                    merged = np.unique(h if prev is None else np.concatenate([prev, h]))
                    state[key] = merged[:k] if len(merged) > k else merged
            else:
                h = pdf["__h"].to_numpy()
                prev = state.get(())
                merged = np.unique(h if prev is None else np.concatenate([prev, h]))
                state[()] = merged[:k] if len(merged) > k else merged
        rows = []
        for key, hs in state.items():
            key = key if isinstance(key, tuple) else (key,)
            for h in hs:
                rows.append(((*key, int(h)) if groups else (int(h),)))
        out = pd.DataFrame(rows, columns=[*groups, "__h"])
        if len(out) == 0:
            out["__h"] = out["__h"].astype("int64")
        yield out

    return hashed.mapInPandas(part, fields)


def kmv_distinct_arrow(
    df: DataFrame,
    value: Column,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``kmv_distinct`` served by the partial-sketch tier — identical
    output (pytest-pinned), cluster-shaped cost."""
    return kmv_merge(kmv_hashes_arrow(df, value, k, group_cols), k, group_cols)


def kmv_distinct_filtered(
    df: DataFrame,
    value: Column,
    k: int = 256,
    group_cols: list[str] | None = None,
    sample_fraction: float = 0.01,
    safety: float = 8.0,
    max_rounds: int = 4,
) -> DataFrame:
    """``kmv_distinct`` with a JVM-side threshold prefilter — the fast
    bulk tier. Only hashes below ``h_k`` can enter the bottom-k, so a
    cheap sampled estimate bounds ``h_k`` per group and the full scan
    keeps just ``~safety * k`` candidate rows (a literal ``<`` filter —
    no Arrow hop, no corpus-wide exchange); the exact bottom-k then runs
    on the tiny survivor set. If any group's survivors come up short
    (the sample underestimated its distinct count), its threshold
    escalates x16 and only then is the scan repeated — so the output is
    IDENTICAL to ``kmv_distinct`` in every case (pytest-pinned), and the
    expected cost is one sampled scan + one group-list aggregate + one
    filtered scan.

    Measured context (BASELINE.md r6): this tier deletes the exchange AND
    the Arrow pass but scans the input twice — fastest when the value is
    a stored/cached column; for a DERIVED stream (explode + md5 dominates
    the cost) the one-scan ``kmv_distinct_arrow`` wins instead.
    """
    import math

    groups = list(group_cols or [])
    hashed = df.select(*groups, md5_long(value).alias("__h"))
    spark = df.sparkSession

    FULL = 1 << 60

    def thr_for(est: float) -> int:
        # sampled upper bound on h_k: sampling thins distinct values
        # ~uniformly, so N_hat = est / fraction; h_k ~ k/N_hat of the
        # hash space, widened by `safety`
        n_hat = max(est / sample_fraction, float(k))
        return min(FULL, int(math.ceil(safety * k / n_hat * _HASH_SPACE)))

    sample = hashed.sample(fraction=sample_fraction, seed=7)
    est_rows = kmv_merge(sample.distinct(), k, groups).collect()
    thr = {tuple(r[g] for g in groups): thr_for(r.est_distinct) for r in est_rows}
    if groups:
        # every group needs a threshold — rare groups can miss the sample
        # entirely and must not be dropped (bounded collect: one row per
        # group, map-side combined)
        for r in hashed.select(*groups).distinct().collect():
            thr.setdefault(tuple(r[g] for g in groups), FULL)
        if not thr:
            return kmv_distinct(df, value, k, groups)
    else:
        thr.setdefault((), FULL)

    for _ in range(max_rounds):
        if groups:
            thr_df = local_frame(
                spark,
                [(*g, t) for g, t in thr.items()],
                T.StructType(
                    [hashed.schema[g] for g in groups] + [T.StructField("__thr", T.LongType())]
                ),
            )
            cand = (
                hashed.join(F.broadcast(thr_df), groups)
                .filter(F.col("__h") < F.col("__thr"))
                .drop("__thr")
            )
        else:
            cand = hashed.filter(F.col("__h") < F.lit(int(thr[()])))
        got = kmv_merge(cand.distinct(), k, groups)
        rows = got.collect()
        # a group is complete when it filled k, or nothing was withheld
        # from it (threshold at the full hash space)
        present = {tuple(r[g] for g in groups): r.n_kept for r in rows}
        short = [
            g
            for g, t in thr.items()
            if t < FULL and present.get(g, 0) < k
        ]
        if not short:
            if groups:
                return got
            return got if rows else kmv_merge(hashed.filter(F.lit(False)), k, [])
        for g in short:
            thr[g] = min(FULL, thr[g] * 16)
    return kmv_distinct(df, value, k, groups)
