"""Subprocess workers for the multi-process concurrency tests.

Run as ``python tests/mp_worker.py <role> <root> ...`` — each invocation is
a genuinely separate OS process with its own SparkSession (own JVM), so the
catalog CAS protocol is exercised across real process boundaries, not
threads. Exits non-zero with the traceback on stderr on any failure.
"""

from __future__ import annotations

import os
import sys
import time
import traceback


def _spark(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def catalog_hammer(root: str, worker_id: str, n_iter: int) -> None:
    """No Spark needed: hammer Catalog.mutate from many processes. Each
    iteration increments a shared counter and appends a per-worker token —
    lost updates would show as a short counter or missing tokens."""
    from chroma_spark.sources.collection import Catalog

    cat = Catalog(root)

    for i in range(n_iter):
        def fn(meta, i=i):
            meta.metadata["counter"] = int(meta.metadata.get("counter", 0)) + 1
            meta.metadata.setdefault("tokens", []).append(f"{worker_id}:{i}")
            meta.version += 1

        cat.mutate("hammer", fn)


def writer_forker(root: str, n_adds: int) -> None:
    """Phase soak A: list-API adds on the shared collection, forking (and
    writing to the fork) every 5th iteration — races the compactor/gc in
    process B the whole way."""
    from chroma_spark.api import Client

    spark = _spark("mp-writer")
    try:
        client = Client(spark, root)
        col = client.get_collection("mpsoak")
        for i in range(n_adds):
            col.add(ids=[f"w{i}"], embeddings=[[float(i), 1.0]], documents=[f"doc {i}"])
            if i % 5 == 4:
                child = col.fork(f"soak_child_{i}")
                child.add(ids=[f"c{i}"], embeddings=[[0.5, float(i)]])
            time.sleep(0.2)
    finally:
        spark.stop()


def compactor_gcer(root: str, n_compacts: int) -> None:
    """Phase soak B: repeated compaction (version CAS + consumed-log
    preservation under concurrent appends), then gc passes concurrent with
    A's tail of adds/forks."""
    from chroma_spark.api import Client
    from chroma_spark.sources.collection import CollectionError

    spark = _spark("mp-compactor")
    try:
        client = Client(spark, root)
        col = client.get_collection("mpsoak")
        done = 0
        for _ in range(n_compacts):
            try:
                col.compact()
                done += 1
            except CollectionError as e:
                # dual-compactor runs: the advisory lock (or, post-lock,
                # the version CAS) rejects the loser cleanly
                if "concurrent compaction" not in str(e) and (
                    "another process is compacting" not in str(e)
                ):
                    raise
            time.sleep(0.4)
        for _ in range(3):
            col.gc(keep_last=1)  # default grace: in-flight fragments survive
            time.sleep(0.3)
        print(f"compacts={done}")
    finally:
        spark.stop()


def hot_writer(root: str, worker_id: str, n_iter: int) -> None:
    """Tight add loop with NO sleeps: maximal log-cursor contention, so the
    CAS loser's seq re-base (_shift_log_fragment) runs for real."""
    from chroma_spark.api import Client

    spark = _spark(f"mp-hot-{worker_id}")
    try:
        col = Client(spark, root).get_collection("mphot")
        for i in range(n_iter):
            col.add(ids=[f"{worker_id}{i}"], embeddings=[[float(i), 2.0]])
    finally:
        spark.stop()


def txn_contender(root: str, worker_id: str, n_iter: int) -> None:
    """Conditional transactions from two processes bumping disjoint ids:
    cross-process cursor CAS forces re-validation, never lost writes."""
    from chroma_spark.api import Client, ConditionalWriteConflictError
    from chroma_spark.sources.collection import StaleReadError

    spark = _spark("mp-txn")
    try:
        client = Client(spark, root)
        col = client.get_collection("mptxn")
        for i in range(n_iter):
            while True:  # client-side retry-on-conflict, as the reference does
                txn = col.transaction()
                txn.add(ids=[f"{worker_id}{i}"], embeddings=[[float(i), 0.0]])
                try:
                    txn.commit()
                    break
                except (ConditionalWriteConflictError, StaleReadError):
                    time.sleep(0.05)
    finally:
        spark.stop()


def add_compact(root: str, name: str, rid: str) -> None:
    """Add one record to collection ``name`` and compact it."""
    from chroma_spark.api import Client

    spark = _spark("mp-add-compact")
    try:
        col = Client(spark, root).get_collection(name)
        col.add(ids=[rid], embeddings=[[5.0, 5.0]])
        col.compact()
    finally:
        spark.stop()


def main() -> int:
    role, args = sys.argv[1], sys.argv[2:]
    try:
        if role == "catalog_hammer":
            catalog_hammer(args[0], args[1], int(args[2]))
        elif role == "writer_forker":
            writer_forker(args[0], int(args[1]))
        elif role == "compactor_gcer":
            compactor_gcer(args[0], int(args[1]))
        elif role == "hot_writer":
            hot_writer(args[0], args[1], int(args[2]))
        elif role == "add_compact":
            add_compact(args[0], args[1], args[2])
        elif role == "txn_contender":
            txn_contender(args[0], args[1], int(args[2]))
        else:
            print(f"unknown role {role}", file=sys.stderr)
            return 2
    except Exception:
        traceback.print_exc()
        return 1
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
