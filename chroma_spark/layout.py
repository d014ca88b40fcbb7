"""On-disk index layouts: format stamps and the one epoch-MVCC index layer.

**Format stamps.** The reference ships cross-version persistence tests
(``chromadb/test/property/test_cross_version_persist.py``) because index
layouts outlive the code that wrote them. Every layout dir (IVF
centroids/postings, sparse term-bucket postings, dedup bands, FTS
trigrams) gets a ``_layout.json`` stamp ``{"format_version": N, "kind":
...}``; readers validate it and refuse layouts from a NEWER engine with a
clear error instead of misreading partition columns. A missing stamp
means a pre-versioning layout (earlier builds of this engine) and is
accepted as version 1. The leading underscore keeps the stamp invisible
to Spark's parquet discovery (underscore-prefixed paths are ignored as
metadata files).

**Epoch-MVCC index layer.** Every collection index (vector IVF postings,
sparse term buckets, dedup minhash bands, FTS trigram postings) is the
same structure: an id-keyed posting table under one layout dir, described
by a catalog descriptor ``{"kind", "path", "version", "epoch", "n_docs",
"n_appended", ...}``. Files are only ever appended, never rewritten.

- *Visibility.* A row stamped ``__epoch = e`` is live at the descriptor's
  ``version`` v when ``e <= v`` and no tombstone ``(id, epoch t)`` of its
  id has ``e < t <= v``. A fork child pinned at an older version reads the
  parent's shared files at its own version, so later parent appends stay
  invisible to it.
- *Maintenance.* Compacting version v-1 into v tombstones every touched
  id at epoch v and appends the touched ids' new rows at epoch v (the
  ``e >= t`` side of the rule keeps them).
- *Rebuild rule.* Maintenance appends only when the descriptor is
  epoch-stamped, sits under the collection's own directory, is at exactly
  version v-1, and ``n_appended + n_touched <= REINDEX_FRACTION * n_docs``
  (SPANN's incremental-head discipline: retrain only on drift). Otherwise
  the index is rebuilt from the new base into a fresh layout dir.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYOUT_FORMAT_VERSION = 1

# per-kind current format. dedup v2 = epoch-stamped rows + tombstones/
# sibling (incremental maintenance); v1 was a plain rewritten band table —
# a v1 reader would see dead rows, so v2 layouts refuse under v1 engines
KIND_FORMAT_VERSIONS = {"ivf": 1, "sparse": 1, "dedup": 2, "fts": 1}

# share of the indexed docs that may be appended/tombstoned since the last
# build before maintenance rebuilds instead
REINDEX_FRACTION = 0.5

TOMBSTONES = "tombstones"


class LayoutFormatError(ValueError):
    pass


def stamp_layout(path: str, kind: str) -> None:
    """Write the format stamp into a freshly-written layout dir."""
    os.makedirs(path, exist_ok=True)
    version = KIND_FORMAT_VERSIONS.get(kind, LAYOUT_FORMAT_VERSION)
    with open(os.path.join(path, "_layout.json"), "w") as f:
        json.dump({"format_version": version, "kind": kind}, f)


def check_layout(path: str, kind: str) -> int | None:
    """Validate a layout dir before reading it; returns the stamp's mtime
    (None without a stamp), which identifies one build of the layout: a
    rebuild into the same dir restamps it.

    Accepts: a matching stamp at or below the current format version, or
    no stamp at all (pre-versioning layout == v1). Refuses: a stamp from a
    newer format version, a different layout kind, or an unreadable stamp.
    """
    stamp_path = os.path.join(path, "_layout.json")
    if not os.path.exists(stamp_path):
        return None  # pre-versioning layout: defined as format v1
    try:
        with open(stamp_path) as f:
            stamp = json.load(f)
            built = os.fstat(f.fileno()).st_mtime_ns
    except (OSError, json.JSONDecodeError) as e:
        raise LayoutFormatError(f"unreadable layout stamp {stamp_path}: {e}") from e
    v = int(stamp.get("format_version", 1))
    ceiling = KIND_FORMAT_VERSIONS.get(kind, LAYOUT_FORMAT_VERSION)
    if v > ceiling:
        raise LayoutFormatError(
            f"index layout {path} was written by a newer engine "
            f"(format v{v}; this build reads <= v{ceiling}) — "
            "upgrade the engine or rebuild the index"
        )
    got_kind = stamp.get("kind", kind)
    if got_kind != kind:
        raise LayoutFormatError(
            f"index layout {path} is a {got_kind!r} layout, expected {kind!r}"
        )
    return built


def live(desc: dict, sub: str) -> DataFrame:
    """Rows of sub-layout ``sub`` visible at ``desc["version"]`` (the
    visibility rule above), without the ``__epoch`` book-keeping column.
    The tombstone join is an equi-join on id whose right side is bounded
    by ``REINDEX_FRACTION`` of the index (a rebuild resets it)."""
    check_layout(desc["path"], desc["kind"])
    spark = SparkSession.active()
    version = int(desc["version"])
    rows = spark.read.parquet(os.path.join(desc["path"], sub)).filter(
        F.col("__epoch") <= version
    )
    tomb_path = os.path.join(desc["path"], TOMBSTONES)
    if os.path.isdir(tomb_path):
        dead = (
            spark.read.parquet(tomb_path)
            .filter(F.col("epoch") <= version)
            .groupBy("id")
            .agg(F.max("epoch").alias("__dead_upto"))
        )
        rows = (
            rows.join(dead, "id", "left")
            .filter(F.col("__dead_upto").isNull() | (F.col("__epoch") >= F.col("__dead_upto")))
            .drop("__dead_upto")
        )
    return rows.drop("__epoch")


def tombstone(desc: dict, ids: DataFrame, epoch: int) -> None:
    """Kill every row of ``ids`` written before ``epoch``."""
    ids.select("id").withColumn("epoch", F.lit(int(epoch)).cast("long")).write.mode(
        "append"
    ).parquet(os.path.join(desc["path"], TOMBSTONES))


def append(
    desc: dict, sub: str, rows: DataFrame, epoch: int, partition_col: str | None = None
) -> None:
    """Append ``rows`` stamped at ``epoch`` into sub-layout ``sub``; with a
    ``partition_col`` new files land inside the existing partition dirs, so
    partition pruning keeps working."""
    rows = rows.withColumn("__epoch", F.lit(int(epoch)).cast("long"))
    path = os.path.join(desc["path"], sub)
    if partition_col is None:
        rows.write.mode("append").parquet(path)
        return
    # partition column last, where reads of the layout put it (the rows
    # shuffle ~2% smaller than with __epoch behind it)
    rows = rows.select(*[c for c in rows.columns if c != partition_col], partition_col)
    rows.repartition(partition_col).write.mode("append").partitionBy(partition_col).parquet(path)


def can_append(desc: dict, own_dir: str, replaced_version: int, n_touched: int) -> bool:
    """The rebuild rule: True when maintenance may append ``n_touched`` ids
    to ``desc`` while compacting ``replaced_version`` into the next one."""
    return (
        desc.get("epoch") is not None
        and desc["path"].startswith(os.path.join(own_dir, ""))
        and desc["version"] == replaced_version
        and desc.get("n_appended", 0) + n_touched
        <= REINDEX_FRACTION * max(1, desc.get("n_docs", 0))
    )
