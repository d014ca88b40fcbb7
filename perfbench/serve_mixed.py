"""``serve_mixed``: closed-loop HTTP serving mix over one SparkSession.

Set-up starts ``server_app.py`` in its own process, ingests ``N`` seeded
records, compacts and builds the IVF and sparse indexes there, then warms
every request kind with one request each, sent at once. The warm-up
insert is not compacted, so the first reads merge a one-fragment WAL
tail. The measured part runs ``CLIENTS`` clients, each
with its own ``HttpClient``, in closed-loop rounds: in every round each
client sends one request of the round's kind and waits for the reply,
and the next round starts when all have replied. The rounds repeat the
fixed mix ``MIX`` (query, insert32, search, query), with seeded query
vectors, filters and records:

- 50% ``query``: top-10 KNN, half of them with a ``where`` on ``m_cat``;
- 25% ``search``: ``rrf`` of a dense and a sparse ``$knn``, with a
  ``where``, limit 10;
- 25% ``insert32``: ``add`` of 32 records with documents, which the
  server BM25-embeds.

Every request therefore meets exactly ``CLIENTS``-way concurrency of its
own kind, which keeps run-to-run spread low. The benchmark compacts,
which maintains both indexes, before every insert round but the first
and once after the last round, so the reads in between merge the WAL
tail of the last insert round. The number of rounds is fixed by
``--seconds``, not by the clock, so a faster build does not get a longer
WAL tail. At four seconds the run is a single mix, so the only measured
compaction is the final one.

Inserted records never enter a read's top 10: they carry an ``m_cat`` no
read filters on, and they lie around the negated cluster centres, far
from every query. So every served ``query`` is checked against a numpy
exact top-10 over the base records, computed in set-up.
"""

from __future__ import annotations

import json
import os
import select
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
import urllib.request

import numpy as np

import gen

N = 2_000
N_LISTS = 16
CLIENTS = 2
ROUNDS_PER_SECOND = 0.8  # rounds = seconds * this, rounded to whole mixes
# one mix of rounds; the reads after the insert round merge its WAL tail
MIX = ("query", "insert32", "search", "query")
K = 10
PER_SIDE = 100
INSERT_CAT = "inserted"  # an m_cat no read filters on
START_TIMEOUT_S = 120
SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "server_app.py")
CLASS = {"query": "read", "search": "read", "insert32": "write"}


class Server:
    """The server process; ``close`` stops it and waits for it."""

    def __init__(self, work: str, store: str, trace: bool) -> None:
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, SERVER, "--root", store, "--trace", str(int(trace))],
            stdout=subprocess.PIPE, stderr=self.log, text=True,
        )
        ready, _, _ = select.select([self.proc.stdout], [], [], START_TIMEOUT_S)
        line = self.proc.stdout.readline() if ready else ""
        if not line.startswith("PERFBENCH_PORT "):
            self.close()
            raise RuntimeError(f"server did not start (see {self.log.name})")
        self.port = int(line.split()[1])

    def call(self, method: str, path: str, body=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}{path}",
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"}, method=method,
        )
        with urllib.request.urlopen(req, timeout=170) as r:
            return json.loads(r.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("POST", "/perfbench/shutdown")
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


def plan(seed: int, n_rounds: int) -> tuple[list[str], list[list[dict]], list[dict]]:
    """The kinds of the rounds, each client's op per round, and one
    warm-up op of each kind."""
    kinds = list(MIX) * (n_rounds // len(MIX))
    ops = []
    for c in range(CLIENTS):
        wheres = np.random.default_rng([seed, 510 + c]).random(n_rounds) < 0.5
        ops.append(_ops(gen.queries(seed, n_rounds, stream=600 + c), kinds, wheres))
    warm = ["query", "search", "insert32"]
    return kinds, ops, _ops(gen.queries(seed, 3, stream=700), warm, [True] * 3)


def _ops(q: dict, kinds, wheres) -> list[dict]:
    return [
        {"kind": kind, "vec": q["embedding"][i], "text": q["text"][i],
         "cat": str(q["cat"][i]) if kind == "search" or wheres[i] else None}
        for i, kind in enumerate(kinds)
    ]


def exact_top(base: dict, vec: np.ndarray, cat: str | None) -> tuple[set, np.ndarray, float]:
    """Exact cosine top-K ids, all distances and the K-th distance."""
    d = 1.0 - base["embedding"].astype(np.float64) @ vec.astype(np.float64)
    if cat is not None:
        d = np.where(base["m_cat"] == cat, d, np.inf)
    top = np.argsort(d, kind="stable")[:K]
    return set(base["id"][top].tolist()), d, float(d[top[-1]])


def same_top(got: list[str], want: tuple, index: dict) -> bool:
    """``got`` equals the exact top-K, up to ties within float32 noise."""
    ids, d, kth = want
    if set(got) == ids:
        return True
    return len(got) == K and all(g in index and d[index[g]] <= kth + 1e-5 for g in got)


def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    from chroma_spark.functions.embedding import Bm25SparseEmbeddingFunction
    from chroma_spark.http_client import HttpClient
    from chroma_spark.operators.rank import rrf

    phases = {}
    t_setup = time.perf_counter()
    store = os.path.join(work, f"store_{os.getpid()}")
    base = gen.records(seed, N)
    path = gen.cached_parquet(work, base, seed, N, 1)
    n_rounds = len(MIX) * max(1, round(seconds * ROUNDS_PER_SECOND / len(MIX)))
    kinds, ops, warm_ops = plan(seed, n_rounds)
    inserts = gen.records(seed, (CLIENTS * n_rounds + 1) * 32, stream=2, prefix="n", negate=True)
    ef = Bm25SparseEmbeddingFunction(dim=1 << 20)
    index = {rid: i for i, rid in enumerate(base["id"].tolist())}
    for op in [o for client_ops in ops for o in client_ops] + warm_ops:
        if op["kind"] == "query":
            op["want"] = exact_top(base, op["vec"], op["cat"])
        elif op["kind"] == "search":
            sparse = ef([op["text"]])[0]
            op["payload"] = {
                "where": {"m_cat": op["cat"]},
                "rank": rrf([
                    {"query": op["vec"].tolist(), "limit": PER_SIDE, "default": PER_SIDE},
                    {"query": sparse, "key": "sparse", "limit": PER_SIDE, "default": PER_SIDE},
                ]),
                "limit": K,
                "select": ["#id", "#score"],
            }
    phases["inputs_s"] = time.perf_counter() - t_setup

    def insert_batch(i: int) -> dict:
        sl = slice(i * 32, (i + 1) * 32)
        return {
            "ids": inserts["id"][sl].tolist(),
            "embeddings": inserts["embedding"][sl].tolist(),
            "documents": inserts["document"][sl],
            "metadatas": [{"m_cat": INSERT_CAT, "m_int": int(v)} for v in inserts["m_int"][sl]],
        }

    def do(client, op, batch: int):
        if op["kind"] == "query":
            return client.col.query(
                [op["vec"].tolist()], n_results=K,
                where={"m_cat": op["cat"]} if op["cat"] else None, include=["distances"],
            )
        if op["kind"] == "search":
            return client.col.search(op["payload"])
        return client.col.add(**insert_batch(batch))

    calls, fails, checks = [], [], []
    acked = 0

    def request(client, op, rid: str, batch: int) -> None:
        """One timed request plus its check; a failure is counted."""
        client._headers["X-Request-Id"] = rid
        t0 = time.perf_counter()
        try:
            out = do(client, op, batch)
        except Exception as e:  # noqa: BLE001 - any failed request counts
            fails.append(f"{rid} {op['kind']}: {e}")
            return
        calls.append({"op": op["kind"], "cls": CLASS[op["kind"]], "rid": rid,
                      "ms": (time.perf_counter() - t0) * 1e3})
        if op["kind"] == "query" and not same_top(out["ids"][0], op["want"], index):
            fails.append(f"{rid} query: ids {sorted(out['ids'][0])} are not the exact top {K}")
        elif op["kind"] == "search" and len(out["ids"][0]) != K:
            fails.append(f"{rid} search: {len(out['ids'][0])} ids, want {K}")

    def compact(rid: str) -> None:
        t0 = time.perf_counter()
        try:
            server.call("POST", "/perfbench/compact", {"name": "serve", "rid": rid})
        except OSError as e:
            fails.append(f"{rid} serve_compact: {e}")
            return
        calls.append({"op": "serve_compact", "cls": "maint", "rid": rid,
                      "ms": (time.perf_counter() - t0) * 1e3})

    server = Server(work, store, trace)
    try:
        phases["server_start_s"] = time.perf_counter() - t_setup - phases["inputs_s"]
        phases["build"] = server.call(
            "POST", "/perfbench/build",
            {"name": "serve", "path": path, "dim": gen.DIM, "n_lists": N_LISTS},
        )
        t_warm = time.perf_counter()
        # one more client than CLIENTS so the warm-up sends its three kinds at once
        clients = [HttpClient(port=server.port, timeout=170)
                   for _ in range(max(CLIENTS, len(warm_ops)))]
        for c in clients:
            c.col = c.get_collection("serve")
        with ThreadPoolExecutor(len(warm_ops)) as pool:
            for f in [pool.submit(request, c, op, f"w-{op['kind']}", 0)
                      for c, op in zip(clients, warm_ops)]:
                f.result()
        acked += 1
        calls.clear()
        phases["warm_s"] = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        t_work = time.perf_counter()
        pending = False  # inserts not yet compacted
        with ThreadPoolExecutor(CLIENTS) as pool:
            for r, kind in enumerate(kinds):
                if kind == "insert32" and pending:
                    compact(f"k-r{r}")
                n_before = len(calls)
                futures = [
                    pool.submit(request, clients[c], ops[c][r], f"c{c}-r{r}", 1 + r * CLIENTS + c)
                    for c in range(CLIENTS)
                ]
                for f in futures:
                    f.result()
                if kind == "insert32":
                    acked += len(calls) - n_before
                    pending = True
            if pending:
                compact("k-end")
        work_s = time.perf_counter() - t_work

        count = clients[0].col.count()
        checks.append(count == N + 32 * acked)
        if not checks[-1]:
            fails.append(f"count {count} != {N} + 32 * {acked}")
        spans = server.call("GET", "/perfbench/spans") if trace else []
    finally:
        server.close()
        shutil.rmtree(store, ignore_errors=True)
    _attach_spans(calls, spans)
    return {
        "setup_s": setup_s, "work_s": work_s, "calls": calls,
        "attempted": CLIENTS * n_rounds + kinds.count("insert32"),
        "failed": len(fails), "checks": checks, "failures": fails, "spans": spans,
        "detail": {"n": N, "clients": CLIENTS, "rounds": n_rounds, "count": count, **phases},
    }


def _attach_spans(calls: list[dict], spans: list[dict]) -> None:
    """Give each measured call its server span (matched by request id)
    and the server overhead: client latency minus the handler wall and
    minus the tracer's own time."""
    by_rid = {s["request_id"]: s for s in spans if s.get("request_id")}
    for c in calls:
        sp = by_rid.get(c["rid"])
        if sp is not None:
            c["span"] = sp
            c["server_overhead_ms"] = c["ms"] - (sp["end"] - sp["start"]) * 1e3 - sp.get("trace_ms", 0.0)
