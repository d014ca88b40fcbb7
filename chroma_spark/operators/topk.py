"""Scalable per-group top-k.

The single most common physical pattern in the engine (KNN k, rank ``limit``,
``MinK``/``MaxK`` group-by, BM25 top-k). A naive
``Window.partitionBy(group).orderBy(score)`` shuffles EVERY candidate row
into one partition per group — with a handful of query groups over 100 TB of
candidates that is a catastrophic skew. We therefore do a two-stage top-k:

  stage 1: local top-k per (group, spark input partition) — the shuffle key
           ``(group, partition_id)`` spreads each group over all executors,
           and only ``k`` rows per (group, partition) survive;
  stage 2: global top-k per group over the ~``groups * partitions * k``
           survivors — tiny by construction.

This mirrors what the reference does physically (per-shard KNN then
``knn_merge`` — ``rust/worker/src/execution/operators/knn_merge.rs:43``),
expressed as Catalyst window plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    two_stage: bool = True,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the first ``k`` rows per group under ``order_cols`` ordering.

    ``order_cols`` must define a total order (pass a unique tiebreak column
    last) or results are nondeterministic. If ``rank_col`` is given, the
    1-based position (BIGINT) is kept under that name. Ungrouped, the
    first stage is skipped: TakeOrderedAndProject keeps a per-partition
    heap itself, so a window keyed on the partition id would only add a
    shuffle.
    """
    if two_stage and group_cols:
        staged = df.withColumn("__pid", F.spark_partition_id())
        w1 = Window.partitionBy(*group_cols, "__pid").orderBy(*order_cols)
        survivors = (
            staged.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= k)
            .drop("__rn", "__pid")
        )
    else:
        survivors = df
    if not group_cols:
        # ungrouped top-k: sort+limit compiles to TakeOrderedAndProject
        # (per-partition heap + driver merge) — no single-partition window
        # shuffle; the rank, if wanted, is a window over only k rows.
        out = survivors.orderBy(*order_cols).limit(k)
        if rank_col is None:
            return out
        w = Window.orderBy(*order_cols)
        return out.withColumn(rank_col, F.row_number().over(w).cast("long"))
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    out = (
        survivors.withColumn("__rank", F.row_number().over(w2))
        .filter(F.col("__rank") <= k)
    )
    if rank_col is None:
        return out.drop("__rank")
    return out.withColumn(rank_col, F.col("__rank").cast("long")).drop("__rank")
