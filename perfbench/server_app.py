"""Server launcher for the ``serve_mixed`` workload.

Runs ``chroma_spark.server.create_app`` over one SparkSession in its own
process and adds a few ``/perfbench/*`` control routes the benchmark
needs and the public server does not have: build a collection from a
parquet file, compact it, return the spans and stop.

With ``--trace 1`` a WSGI wrapper gives every record request its own
span (and so its own Spark job group) keyed by the client's
``X-Request-Id`` header, and reads the collection's WAL-tail fragment
count before a read. The span's wall is the handler time, from which the
benchmark derives the server overhead. With ``--trace 0`` the app is
served unwrapped.

Run as ``python3 perfbench/server_app.py --root STORE --trace 0``; it
prints ``PERFBENCH_PORT <port>`` once it listens.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, install_catalog_meter  # noqa: E402

# last path segment of a record route -> op name
RECORD_OPS = {"query": "query", "search": "search", "add": "insert32"}


def _op(path: str) -> str | None:
    if not path.startswith("/api/v2/") or "/collections/" not in path:
        return None
    return RECORD_OPS.get(path.rsplit("/", 1)[-1])


def wrap(app, tracer: Tracer, wal_fragments):
    """WSGI wrapper: one span per record request. Reading the WAL-tail
    fragment count is tracer work, so its time goes to the span's
    ``trace_ms``."""
    inner = app.wsgi_app

    def middleware(environ, start_response):
        op = _op(environ.get("PATH_INFO", ""))
        if op is None:
            return inner(environ, start_response)
        t0 = time.time()
        attrs = {"wal_fragments": wal_fragments()} if op in ("query", "search") else {}
        probe_ms = (time.time() - t0) * 1e3
        rid = environ.get("HTTP_X_REQUEST_ID")
        with tracer.span(f"http.{op}", op=op, request_id=rid, **attrs) as sp:
            body = b"".join(inner(environ, start_response))
        sp["trace_ms"] = sp.get("trace_ms", 0.0) + probe_ms
        return [body]

    app.wsgi_app = middleware


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True, help="store directory")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from flask import jsonify, request
    from werkzeug.serving import make_server

    from chroma_spark.api import Client
    from chroma_spark.server import create_app
    from chroma_spark.session import get_spark

    spark = get_spark("perfbench-server")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=bool(args.trace))
    ctl = Client(spark, args.root)
    served = {}  # name of the collection the clients use
    app = create_app(spark, args.root)
    server = None

    @app.post("/perfbench/build")
    def build():
        """Create a collection with a BM25 sparse EF, ingest the parquet
        file, build the IVF index (which compacts first) and the sparse
        index."""
        body = request.get_json(force=True)
        t = {}
        t0 = time.perf_counter()
        col = ctl.create_collection(
            body["name"], dimension=body["dim"], space="cosine",
            sparse_embedding_function="bm25_sparse",
            sparse_embedding_function_kwargs={"dim": 1 << 20},
        )
        col.add_records(spark.read.parquet(body["path"]))
        t["ingest_s"] = time.perf_counter() - t0
        for step, fn in (
            ("vector_index_s", lambda: col.build_vector_index(n_lists=body["n_lists"])),
            ("sparse_index_s", lambda: col.build_sparse_index("sparse")),
        ):
            t1 = time.perf_counter()
            fn()
            t[step] = time.perf_counter() - t1
        served["name"] = body["name"]
        return jsonify({"id": ctl.catalog.get(ctl._scoped(body["name"])).id, **t})

    @app.post("/perfbench/compact")
    def compact():
        body = request.get_json(force=True)
        col = ctl.get_collection(body["name"])
        with tracer.span("serve_compact", op="serve_compact", request_id=body.get("rid")) as sp:
            version = col.compact()
        return jsonify({"version": version, "ms": (sp["end"] - sp["start"]) * 1e3})

    @app.get("/perfbench/spans")
    def spans():
        with tracer._lock:
            return jsonify(list(tracer.spans))

    @app.post("/perfbench/shutdown")
    def shutdown():
        threading.Thread(target=server.shutdown, daemon=True).start()
        return jsonify(True)

    if args.trace:
        install_catalog_meter(tracer)

        def wal_fragments() -> int:
            name = served.get("name")
            return len(ctl.catalog.get(ctl._scoped(name)).log_paths) if name else 0

        wrap(app, tracer, wal_fragments)

    server = make_server("127.0.0.1", 0, app, threaded=True)
    print(f"PERFBENCH_PORT {server.server_port}", flush=True)
    try:
        server.serve_forever()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
