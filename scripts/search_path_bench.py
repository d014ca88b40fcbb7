"""Served `search` latency by sparse source: per-record scan vs term-bucket index.

`Collection.search` picks the source of its sparse `$knn` terms from the
rank expression: a rank with a dense term scores them per record over the
candidates it already scans (`sparse.sparse_scan_scores`), a rank of
sparse terms only reads the fresh sparse index merged with the WAL tail
(`_Executor.sparse_indexes`). This harness times both lowerings of the
same searches on the same read state, so the choice rests on a
measurement:

- ``auto``  — the public ``col.search`` (the choice the engine makes);
- ``scan``  — every sparse term scored per record (IDF ``n`` from the
  fresh index's ``n_docs``);
- ``index`` — every sparse term read from the index + WAL-tail merge.

Kinds: ``sparse`` (one sparse term), ``hybrid`` (rrf of a dense and a
sparse term, as the served benchmark sends), ``hybrid_where`` (the same
with a 10%-selective ``where``). Idf is on (the default). The collection
is N records of 64-d vectors and 30-80 zipf-ish sparse terms over a 50k
vocabulary, compacted, with a 64-bucket sparse index and a WAL tail of
32 records. "warm" searches reuse the read state; "first" searches run
right after an insert of 32 records (a new state). Each line reports the
median of plan build + collect and the Spark jobs per search. Modes that
disagree on ids or scores print a MISMATCH line.

Usage:
    python scripts/search_path_bench.py --n 2000
    python scripts/search_path_bench.py --n 1000000 --kinds sparse,hybrid_where --reps 2

The collection lands in the gitignored `.search_path_bench/` dir;
``--reuse`` keeps a built one. At a checkout older than the scan choice
only ``--modes auto`` applies.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import random
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

DIM, VOCAB, N_BUCKETS = 64, 50_000, 64


def _h(prefix, *cols):
    parts = [F.lit(prefix), *[c.cast("string") for c in cols]]
    return F.conv(F.substring(F.md5(F.concat_ws("_", *parts)), 1, 15), 16, 10).cast("long")


def gen_records(spark, n: int, start: int):
    """``(id, embedding, grp, sv)`` for ids ``start .. start + n``."""
    from chroma_spark.sparse_vector import SPARSE_VECTOR_TYPE

    rid = F.col("id")
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))
    emb = F.transform(dims, lambda j: ((_h("e1", rid, j) % 2000 - 1000) / 1000.0).cast("float"))
    n_tok = (_h("l1", rid) % 51 + 30).cast("int")

    def tok(j):  # zipf-ish: rank = h1 % (1 + h2 % VOCAB) biases mass to low ranks
        return (_h("t1", rid, j) % (F.lit(1) + _h("z1", rid, j) % VOCAB)).cast("int")

    idx = F.sort_array(F.array_distinct(F.transform(F.sequence(F.lit(1), n_tok), tok)))
    vals = F.transform(idx, lambda i: ((_h("v1", rid, i) % 100 + 1) / 10.0).cast("float"))
    sv = F.struct(
        idx.alias("indices"), vals.alias("values"),
        F.lit(None).cast("array<string>").alias("labels"),
    ).cast(SPARSE_VECTOR_TYPE)
    return spark.range(start, start + n).select(
        F.format_string("r%09d", rid).alias("id"), emb.alias("embedding"),
        (rid % 10).alias("grp"), sv.alias("sv"),
    )


def lower(col, mode: str, payload: dict):
    """The search ``payload`` as a DataFrame, through ``mode``'s sparse source."""
    if mode == "auto":
        return col.search(**payload, select=["#id", "#score"])
    from chroma_spark.operators.search import search as search_op
    from chroma_spark.plans import Filter
    from chroma_spark.sparse_vector import SPARSE_VECTOR_TYPE

    ex = col._read()
    extra = {"sv": SPARSE_VECTOR_TYPE}
    if "$sub" in payload["rank"]:  # an rrf rank: a dense term too
        extra["embedding"] = T.ArrayType(T.FloatType())
    n_docs = {k: float(si["n_docs"]) for k, si in ex._fresh_sparse({"sv"}).items()}
    return search_op(
        ex.records(extra),
        candidates=ex.filtered(Filter(where=payload.get("where")), extra),
        rank=copy.deepcopy(payload["rank"]),
        limit=payload["limit"],
        select=["#id", "#score"],
        default_space=ex.meta.space,
        offset_col="offset_id",
        sparse_index=ex.sparse_indexes({"sv"}) if mode == "index" else {},
        sparse_n_docs=n_docs,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--modes", default="auto,scan,index")
    ap.add_argument("--kinds", default="sparse,hybrid,hybrid_where")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--reuse", action="store_true")
    args = ap.parse_args()

    from chroma_spark.api import Client
    from chroma_spark.operators.rank import rrf
    from chroma_spark.session import get_spark

    spark = get_spark("search-path-bench")
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.join(REPO, ".search_path_bench", f"store_n{args.n}")
    if not (args.reuse and os.path.exists(root)):
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.time()
        col = Client(spark, root).create_collection("c", dimension=DIM, space="cosine")
        col.add_records(gen_records(spark, args.n, 0))
        col.compact()
        col.build_sparse_index("sv", n_buckets=N_BUCKETS)
        print(f"built n={args.n} in {time.time() - t0:.1f}s", flush=True)
    col = Client(spark, root).get_collection("c")
    next_id = args.n + (int(time.time()) % 1000) * 100_000  # fresh ids on --reuse
    col.add_records(gen_records(spark, 32, next_id))  # the WAL tail
    next_id += 32

    rnd = random.Random(5)

    def payload(kind: str) -> dict:
        terms = sorted({min(int(rnd.paretovariate(0.6)), VOCAB - 1) for _ in range(8)})
        dense = {"query": [rnd.uniform(-1, 1) for _ in range(DIM)], "limit": 10}
        sparse = {"query": {"indices": terms, "values": [round(rnd.uniform(0.5, 2), 3) for _ in terms]},
                  "key": "sv", "limit": 10}
        if kind == "sparse":
            return {"rank": {"$knn": sparse}, "limit": 10}
        out = {"rank": rrf([dense, sparse]), "limit": 10}
        if kind == "hybrid_where":
            out["where"] = {"grp": {"$eq": 3}}
        return out

    sc = spark.sparkContext
    groups = iter(range(1 << 30))

    def timed(mode: str, p: dict):
        group = f"search-path-{next(groups)}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        df = lower(col, mode, p)
        t1 = time.time()
        rows = [(r["id"], r["score"]) for r in df.collect()]
        t2 = time.time()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("idle", "idle")
        return (t1 - t0, t2 - t1, jobs), rows

    modes, kinds = args.modes.split(","), args.kinds.split(",")
    res: dict = {}
    for kind in kinds:  # first use of every plan shape on this state
        for mode in modes:
            timed(mode, payload(kind))
    for _ in range(args.reps):  # warm: the same query through every mode
        for kind in kinds:
            p, outs = payload(kind), {}
            for mode in modes:
                sample, outs[mode] = timed(mode, p)
                res.setdefault(("warm", kind, mode), []).append(sample)
            if any(v != outs[modes[0]] for v in outs.values()):
                print("MISMATCH", kind, {m: v[:3] for m, v in outs.items()}, flush=True)
    for _ in range(args.reps):  # first search of a new state
        for kind in kinds:
            for mode in modes:
                col.add_records(gen_records(spark, 32, next_id))
                next_id += 32
                sample, _ = timed(mode, payload(kind))
                res.setdefault(("first", kind, mode), []).append(sample)

    for (phase, kind, mode), samples in sorted(res.items()):
        print(json.dumps({
            "n": args.n, "phase": phase, "kind": kind, "mode": mode,
            "median_s": round(statistics.median(b + c for b, c, _ in samples), 3),
            "build_s": round(statistics.median(b for b, _, _ in samples), 3),
            "collect_s": round(statistics.median(c for _, c, _ in samples), 3),
            "jobs": [j for _, _, j in samples],
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
