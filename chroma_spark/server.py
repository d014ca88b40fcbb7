"""HTTP facade: the reference's v2 REST API served over the Spark engine.

Mirrors the route inventory and wire shapes of the reference server
(`chromadb/server/fastapi/__init__.py:279-455` route table,
`server/fastapi/types.py` request models, `chromadb/api/types.py:619`
column-major Get/QueryResult) on Flask (the HTTP stack available in this
environment; the reference uses FastAPI — same JSON contract). A client
written against `chroma run`'s API can point here unchanged for the
covered surface: heartbeat/version/pre-flight, tenant + database CRUD,
collection CRUD (+ fork), and record add/update/upsert/get/delete/count/
query.

Design notes:
- ONE SparkSession serves every request (Spark is the execution engine;
  concurrent Flask requests become concurrent Spark jobs — the scheduler
  interleaves fairly). Engine `Client` objects are constructed per
  (tenant, database) scope and cached: construction is a catalog open,
  the reference's per-request segment-manager lookup analog.
- Record ops address collections by id OR name (the reference uses the
  uuid in record routes, the name in collection routes).
- Errors map to the reference's status discipline: unknown things are
  404, invalid payloads 400 (`fastapi/__init__.py` raises 404/400 the
  same way).
"""

from __future__ import annotations

from typing import Any

from .api import Client
from .sources.collection import CollectionError

PAYLOAD_KEYS = ("id", "embedding", "document", "uri")


def _rows_to_get_result(rows: list[dict], include: list[str]) -> dict:
    """Column-major GetResult (chromadb/api/types.py:619) from the
    engine's row dicts (metadata keys arrive flattened)."""
    out: dict[str, Any] = {
        "ids": [r["id"] for r in rows],
        "embeddings": None,
        "documents": None,
        "uris": None,
        "metadatas": None,
        "include": list(include),
    }
    if "embeddings" in include:
        out["embeddings"] = [r.get("embedding") for r in rows]
    if "documents" in include:
        out["documents"] = [r.get("document") for r in rows]
    if "uris" in include:
        out["uris"] = [r.get("uri") for r in rows]
    if "metadatas" in include:
        metas = []
        for r in rows:
            m = {k: v for k, v in r.items() if k not in PAYLOAD_KEYS and v is not None}
            metas.append(m or None)
        out["metadatas"] = metas
    return out


def _collection_model(client: Client, name: str) -> dict:
    meta = client.catalog.get(client._scoped(name))
    return {
        "id": meta.id,
        "name": name,
        "metadata": meta.metadata or None,
        "dimension": meta.dimension,
        "tenant": client.tenant,
        "database": client.database,
        "configuration_json": {"space": meta.space},
        "version": meta.version,
    }


def create_app(
    spark,
    root: str,
    allow_reset: bool = False,
    auth_provider=None,
    authz_provider=None,
    quota_enforcer=None,
    rate_limiter=None,
):
    """Build the Flask app over one engine store. ``spark`` is the shared
    session; ``root`` the store directory (same layout `Client` uses).

    Middleware mirrors the reference's per-request order: authn from the
    ``Authorization: Bearer``/``X-Chroma-Token`` header (the token_authn
    wire contract) on every route except the utility probes, then — inside
    the engine Client — authz per action, rate bucket, quota measurement.
    AuthError -> 401, AuthzError -> 403, quota/rate -> 400."""
    from flask import Flask, jsonify, request

    from .auth import AuthError, AuthzError

    app = Flask("chroma_spark")
    clients: dict[tuple, Client] = {}
    admission = {"quota_enforcer": quota_enforcer, "rate_limiter": rate_limiter}
    admin = Client(spark, root, **admission)  # default scope + tenant admin
    admin.allow_reset = allow_reset

    OPEN = {"/api/v2", "/api/v2/heartbeat", "/api/v2/version", "/api/v2/pre-flight-checks"}

    def _credentials() -> dict:
        h = request.headers.get("Authorization", "")
        token = h[7:] if h.startswith("Bearer ") else request.headers.get("X-Chroma-Token", "")
        return {"token": token}

    @app.before_request
    def _authn():
        if auth_provider is None or request.path in OPEN:
            return None
        auth_provider.authenticate_or_raise(_credentials())

    @app.errorhandler(AuthError)
    def _auth_error(e):
        status = 403 if isinstance(e, AuthzError) else 401
        return jsonify({"error": type(e).__name__, "message": str(e)}), status

    from .quota import QuotaExceededError, RateLimitError

    @app.errorhandler(QuotaExceededError)
    @app.errorhandler(RateLimitError)
    def _admission_error(e):
        # the reference's quota/rate-limit middleware answers 429
        return jsonify({"error": type(e).__name__, "message": str(e)}), 429

    def scoped(tenant: str, database: str) -> Client:
        creds = _credentials() if auth_provider is not None else None
        key = (tenant, database, (creds or {}).get("token"))
        if key not in clients:
            clients[key] = Client(
                spark, root, tenant=tenant, database=database,
                auth_provider=auth_provider, authz_provider=authz_provider,
                credentials=creds, **admission,
            )
        return clients[key]

    @app.errorhandler(CollectionError)
    def _collection_error(e):
        msg = str(e)
        status = 404 if ("does not exist" in msg or "not found" in msg) else 400
        return jsonify({"error": type(e).__name__, "message": msg}), status

    @app.errorhandler(ValueError)
    def _value_error(e):
        return jsonify({"error": "ValueError", "message": str(e)}), 400

    # -- root / utility ------------------------------------------------
    @app.get("/api/v2")
    def api_root():
        return jsonify({"nanosecond heartbeat": admin.heartbeat()})

    @app.get("/api/v2/heartbeat")
    def heartbeat():
        return jsonify({"nanosecond heartbeat": admin.heartbeat()})

    @app.get("/api/v2/version")
    def version():
        return jsonify(admin.get_version())

    @app.get("/api/v2/pre-flight-checks")
    def pre_flight():
        return jsonify({"max_batch_size": admin.get_max_batch_size()})

    @app.post("/api/v2/reset")
    def reset():
        if not allow_reset:
            raise ValueError(
                "Resetting is not allowed by this configuration (set allow_reset)"
            )
        for c in (admin, *clients.values()):
            c.allow_reset = True
            c.reset()
        clients.clear()
        return jsonify(True)

    @app.get("/api/v2/auth/identity")
    def identity():
        if auth_provider is not None:
            u = auth_provider.authenticate_or_raise(_credentials())
            return jsonify(
                {
                    "user_id": u.user_id,
                    "tenant": u.tenant or admin.tenant,
                    "databases": u.databases or [admin.database],
                }
            )
        return jsonify(
            {"user_id": "anonymous", "tenant": admin.tenant, "databases": [admin.database]}
        )

    @app.get("/api/v2/collections/<path:crn>")
    def get_collection_by_crn(crn):
        """Global CRN lookup: ``<tenant>:<database>:<collection>`` with
        non-empty parts (reference route `rust/frontend/src/server.rs:301`,
        format validation `rust/types/src/api_types.rs:878-897`)."""
        parts = crn.split(":", 3)
        if len(parts) != 3 or not all(parts):
            raise ValueError(
                "CRN must be in the format <tenant_resource_name>:"
                "<database_name>:<collection_name> with non-empty parts"
            )
        tenant, database, name = parts
        c = scoped(tenant, database)
        return jsonify(_collection_model(c, c.get_collection(name).name))

    # -- tenants / databases --------------------------------------------
    @app.post("/api/v2/tenants")
    def create_tenant():
        admin.create_tenant(request.get_json(force=True)["name"])
        return jsonify(None)

    @app.get("/api/v2/tenants/<tenant>")
    def get_tenant(tenant):
        if tenant not in admin.catalog.list_tenants():
            raise CollectionError(f"tenant {tenant!r} does not exist")
        return jsonify({"name": tenant})

    @app.post("/api/v2/tenants/<tenant>/databases")
    def create_database(tenant):
        admin.create_database(request.get_json(force=True)["name"], tenant=tenant)
        return jsonify(None)

    @app.get("/api/v2/tenants/<tenant>/databases")
    def list_databases(tenant):
        return jsonify([{"name": n, "tenant": tenant} for n in admin.list_databases(tenant=tenant)])

    @app.get("/api/v2/tenants/<tenant>/databases/<database>")
    def get_database(tenant, database):
        d = admin.get_database(database, tenant=tenant)
        return jsonify({"name": d["name"], "tenant": tenant, "id": d.get("id")})

    @app.delete("/api/v2/tenants/<tenant>/databases/<database>")
    def delete_database(tenant, database):
        admin.delete_database(database, tenant=tenant)
        # cache keys are (tenant, database, token) 3-tuples — evict every
        # token's client for this database, or a stale Client keeps serving
        # a database that no longer exists
        for k in [k for k in clients if k[:2] == (tenant, database)]:
            clients.pop(k, None)
        return jsonify(None)

    # -- collections -----------------------------------------------------
    base = "/api/v2/tenants/<tenant>/databases/<database>"

    @app.get(f"{base}/collections")
    def list_collections(tenant, database):
        c = scoped(tenant, database)
        limit = request.args.get("limit", type=int)
        offset = request.args.get("offset", default=0, type=int)
        return jsonify(
            [_collection_model(c, n) for n in c.list_collections(limit=limit, offset=offset)]
        )

    @app.get(f"{base}/collections_count")
    def collections_count(tenant, database):
        return jsonify(len(scoped(tenant, database).list_collections()))

    @app.post(f"{base}/collections")
    def create_collection(tenant, database):
        c = scoped(tenant, database)
        body = request.get_json(force=True)
        cfg = body.get("configuration") or {}
        ef = cfg.get("embedding_function") or {}
        c.create_collection(
            body["name"],
            metadata=body.get("metadata"),
            dimension=cfg.get("dimension"),
            space=(cfg.get("spann") or {}).get("space") or cfg.get("space") or "l2",
            get_or_create=bool(body.get("get_or_create", False)),
            embedding_function=ef.get("name"),
            embedding_function_kwargs=ef.get("config") or ef.get("kwargs"),
        )
        return jsonify(_collection_model(c, body["name"]))

    @app.get(f"{base}/collections/<ident>")
    def get_collection(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        return jsonify(_collection_model(c, col.name))

    @app.get(f"{base}/collections/by-id/<cid>")
    def get_collection_by_id(tenant, database, cid):
        # reference route: rust/frontend/src/server.rs:303-305
        c = scoped(tenant, database)
        col = c.get_collection_by_id(cid)
        return jsonify(_collection_model(c, col.name))

    @app.get(f"{base}/collections/<ident>/fork_count")
    def fork_count(tenant, database, ident):
        # reference route: rust/frontend/src/server.rs:336-337
        col = scoped(tenant, database)._lookup(ident)
        return jsonify({"count": col.fork_count()})

    @app.get(f"{base}/collections/<ident>/indexing_status")
    def indexing_status(tenant, database, ident):
        # reference route: rust/frontend/src/server.rs:360-361
        col = scoped(tenant, database)._lookup(ident)
        return jsonify(col.get_indexing_status())

    @app.post(f"{base}/collections/<ident>/functions/attach")
    def attach_function(tenant, database, ident):
        # reference route: rust/frontend/src/server.rs:384-386; function_id
        # maps to the engine's kind registry (streaming/functions.py)
        col = scoped(tenant, database)._lookup(ident)
        body = request.get_json(force=True)
        if not body.get("name"):
            raise ValueError("attach_function requires 'name'")
        kind = body.get("function_id") or body.get("kind")
        if not kind:
            raise ValueError("attach_function requires 'function_id' (or 'kind')")
        spec, created = col.attach_function(
            body["name"], kind, inputs=body.get("inputs"), **(body.get("params") or {})
        )
        return jsonify({"attached_function": spec, "created": created})

    @app.post(f"{base}/collections/<ident>/attached_functions/<name>/detach")
    def detach_function(tenant, database, ident, name):
        # reference route: rust/frontend/src/server.rs:396-398
        col = scoped(tenant, database)._lookup(ident)
        body = request.get_json(silent=True) or {}
        return jsonify(col.detach_function(name, delete_output=bool(body.get("delete_output"))))

    # one handler, both reference spellings (functions/<name> is
    # server.rs:388-390; attached_functions/<name> matches the add_input/
    # detach family's prefix)
    @app.get(f"{base}/collections/<ident>/functions/<name>")
    @app.get(f"{base}/collections/<ident>/attached_functions/<name>")
    def get_attached_function(tenant, database, ident, name):
        col = scoped(tenant, database)._lookup(ident)
        return jsonify({"attached_function": col.get_attached_function(name)})

    @app.post(f"{base}/collections/<ident>/attached_functions/<name>/add_input")
    def add_attached_function_input(tenant, database, ident, name):
        # reference route: rust/frontend/src/server.rs:392-395; the body's
        # new input may be a name or a uuid (resolved like record routes)
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        raw = body.get("new_input_collection_id") or body["new_input_collection"]
        new_input = c._lookup(raw).name.rsplit("/", 1)[-1]
        spec, created = col.add_attached_function_input(name, new_input)
        return jsonify({"attached_function": spec, "created": created})

    @app.put(f"{base}/collections/<ident>")
    def update_collection(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        col.modify(name=body.get("new_name"), metadata=body.get("new_metadata"))
        return jsonify(None)

    @app.delete(f"{base}/collections/<ident>")
    def delete_collection(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        c.delete_collection(col.name)
        return jsonify(None)

    @app.post(f"{base}/collections/<ident>/fork")
    def fork_collection(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        new = request.get_json(force=True)["new_name"]
        col.fork(new)
        return jsonify(_collection_model(c, new))

    # -- records -----------------------------------------------------------
    def _record_op(tenant, database, ident, op):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        kw = {
            "ids": body["ids"],
            "embeddings": body.get("embeddings"),
            "documents": body.get("documents"),
            "uris": body.get("uris"),
            "metadatas": body.get("metadatas"),
        }
        getattr(col, op)(**kw)
        return jsonify(True)

    @app.post(f"{base}/collections/<ident>/add")
    def add(tenant, database, ident):
        return _record_op(tenant, database, ident, "add")

    @app.post(f"{base}/collections/<ident>/update")
    def update(tenant, database, ident):
        return _record_op(tenant, database, ident, "update")

    @app.post(f"{base}/collections/<ident>/upsert")
    def upsert(tenant, database, ident):
        return _record_op(tenant, database, ident, "upsert")

    @app.post(f"{base}/collections/<ident>/get")
    def get_records(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        include = body.get("include") or ["metadatas", "documents"]
        rows = col.get(
            ids=body.get("ids"),
            where=body.get("where"),
            where_document=body.get("where_document"),
            limit=body.get("limit"),
            offset=body.get("offset") or 0,
            include=include,
        )
        return jsonify(_rows_to_get_result(rows, include))

    @app.post(f"{base}/collections/<ident>/delete")
    def delete_records(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        col.delete(
            ids=body.get("ids"),
            where=body.get("where"),
            where_document=body.get("where_document"),
        )
        return jsonify(None)

    @app.get(f"{base}/collections/<ident>/count")
    def count_records(tenant, database, ident):
        c = scoped(tenant, database)
        return jsonify(c._lookup(ident).count())

    @app.post(f"{base}/collections/<ident>/search")
    def search_records(tenant, database, ident):
        """Hybrid search — one SearchResponse entry per payload in
        ``searches`` (api_types.rs:2493: column-major ids/documents/
        embeddings/metadatas/scores + the echoed select keys)."""
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        levels = {"IndexAndWal": "index_and_wal", "IndexOnly": "index_only"}
        rl = body.get("read_level") or "index_and_wal"
        rl = levels.get(rl, rl)
        resp: dict[str, Any] = {
            "ids": [], "documents": [], "embeddings": [],
            "metadatas": [], "scores": [], "select": [],
        }
        for payload in body.get("searches") or []:
            payload = dict(payload)
            if isinstance(payload.get("select"), dict):  # wire form Select{keys}
                payload["select"] = payload["select"].get("keys") or []
            rows = [r.asDict() for r in col.search(read_level=rl, **payload).collect()]
            keys = payload.get("select") or []
            resp["ids"].append([r["id"] for r in rows])
            resp["select"].append(list(keys))
            for field, colname in (
                ("documents", "document"),
                ("embeddings", "embedding"),
                ("scores", "score"),
            ):
                resp[field].append(
                    [r.get(colname) for r in rows] if rows and colname in rows[0] else None
                )
            reserved = set(PAYLOAD_KEYS) | {"score", "offset_id"}
            metas = [
                {k: v for k, v in r.items() if k not in reserved and v is not None} or None
                for r in rows
            ]
            resp["metadatas"].append(metas if any(m for m in metas) else None)
        return jsonify(resp)

    @app.post(f"{base}/collections/<ident>/query")
    def query_records(tenant, database, ident):
        c = scoped(tenant, database)
        col = c._lookup(ident)
        body = request.get_json(force=True)
        include = body.get("include") or ["metadatas", "documents", "distances"]
        res = col.query(
            query_embeddings=body.get("query_embeddings"),
            n_results=int(body.get("n_results", 10)),
            where=body.get("where"),
            where_document=body.get("where_document"),
            ids=body.get("ids"),
            include=include,
        )
        res["include"] = list(include)
        return jsonify(res)

    return app


def run_server(spark, root: str, host: str = "127.0.0.1", port: int = 8000, **kw) -> None:
    """Serve the store over HTTP (the `chroma run` analog). Flask's dev
    server is fine behind local testing; front a WSGI server in
    production."""
    create_app(spark, root, **kw).run(host=host, port=port)


def main() -> None:
    """``python -m chroma_spark.server --root /path/to/store`` — the
    `chroma run --path` analog (rust/cli/src/commands/run.rs)."""
    import argparse

    ap = argparse.ArgumentParser(description="Serve a chroma_spark store over HTTP")
    ap.add_argument("--root", required=True, help="store directory (Client root)")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8000)
    ap.add_argument("--allow-reset", action="store_true")
    args = ap.parse_args()

    from .session import get_spark

    run_server(
        get_spark("chroma-spark-server"), args.root,
        host=args.host, port=args.port, allow_reset=args.allow_reset,
    )


if __name__ == "__main__":
    main()
