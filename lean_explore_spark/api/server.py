"""Thin HTTP serving layer — reference entry point A/B parity.

Mirrors the reference FastAPI surface (src/lean_explore/api/server.py:
66-113) and its response models (shared/models/api.py:40-120) over the
Spark-backed ``SearchService``, with stdlib ``http.server`` only (no
web framework in this container):

    GET /api/v1/heartbeat
    GET /api/v1/search?q=&pkg=&limit=
    POST /api/v1/search  (batch: {"queries": [...], "limit": N})
    GET /api/v1/lexical_search?q=&k=&distributed=&routed=
    GET /api/v1/statement_groups/{id}
    GET /api/v1/statement_groups/{id}/dependencies

Field names in every JSON body match the reference pydantic models
exactly (APISearchResponse / APISearchResultItem /
APICitationsResponse) so a reference client can point at this server —
asserted in tests/test_api_server.py.  The reference's ``pkg`` package
filter maps to this engine's lang filter (SURVEY.md §3.2); document
identity maps statement-group id → doc_id, source_file → url.

Serving is driver-process HTTP over the preloaded engine: the Spark
session does the heavy lifting (candidate scan, BM25) and the handler
threads only orchestrate — the same shape as the reference's FastAPI
worker calling its preloaded LocalService.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Dict, List, Optional
from urllib.parse import parse_qs, urlparse

from lean_explore_spark.query.service import SearchResult, SearchService

ROOT = "/api/v1"


def _result_item(
    doc_id: int,
    meta: Dict[int, dict],
    r: Optional[SearchResult] = None,
) -> dict:
    """APISearchResultItem shape (shared/models/api.py:40-73)."""
    m = meta.get(doc_id, {})
    text = m.get("text", "")
    item = {
        "id": int(doc_id),
        "primary_declaration": {"lean_name": m.get("url") or f"doc/{doc_id}"},
        "source_file": m.get("url") or "",
        "range_start_line": 1,
        "range_end_line": 1 + text.count("\n"),
        "display_statement_text": text[:200],
        "statement_text": text,
        "docstring": None,
        "informal_description": None,
    }
    if r is not None:
        # scoring extras the reference also serializes on results
        item["final_score"] = r.final_score
        item["raw_similarity"] = r.raw_similarity
        item["raw_bm25"] = r.raw_bm25
    return item


class SearchAPI:
    """Route logic, separated from the HTTP plumbing for direct tests.

    Display fields are fetched LAZILY per request (an ``IN``-list
    pushdown over the doc table for exactly the result ids — reference
    R1 late materialization, SURVEY §4), cached per doc: the driver
    never holds the corpus, only docs that were actually served."""

    def __init__(
        self,
        service: SearchService,
        doc_meta: Optional[object] = None,
        dependencies: Optional[Dict[int, List[int]]] = None,
    ) -> None:
        self.service = service
        self._doc_meta = doc_meta
        self._meta_cols = (
            [c for c in ("doc_id", "url", "text") if c in doc_meta.columns]
            if doc_meta is not None
            else []
        )
        self._meta: Dict[int, dict] = {}
        self.dependencies = dependencies or {}

    def _fetch_meta(self, doc_ids: List[int]) -> Dict[int, dict]:
        missing = [d for d in doc_ids if d not in self._meta]
        if missing and self._doc_meta is not None:
            import pyspark.sql.functions as F

            rows = (
                self._doc_meta.select(*self._meta_cols)
                .where(F.col("doc_id").isin([int(d) for d in missing]))
                .collect()
            )
            for row in rows:
                d = row.asDict()
                self._meta[int(d["doc_id"])] = d
        return self._meta

    def heartbeat(self) -> dict:
        return {"status": "ok"}

    def search(
        self, q: str, pkg: Optional[List[str]], limit: int
    ) -> dict:
        t0 = time.time()
        results = self.service.search(
            q, limit=limit, lang_filter=pkg or None
        )
        meta = self._fetch_meta([r.doc_id for r in results])
        return {
            "query": q,
            "packages_applied": pkg,
            "results": [
                _result_item(r.doc_id, meta, r) for r in results
            ],
            "count": len(results),
            "total_candidates_considered": len(results),
            "processing_time_ms": int((time.time() - t0) * 1000),
        }

    def batch_search(
        self, queries: List[str], pkg: Optional[List[str]], limit: int
    ) -> dict:
        """Batch query surface (reference local/service.py:331-341
        ``batch_search``): N queries in one request, responses in input
        order — each a full search() body."""
        return {
            "responses": [self.search(q, pkg, limit) for q in queries],
            "count": len(queries),
        }

    def lexical_search(
        self, q: str, k: int, distributed: bool, routed: bool = False
    ) -> dict:
        """Pure-BM25 serving mode (r2 VERDICT #3): optionally routed
        through the per-shard distributed WAND tasks."""
        t0 = time.time()
        hits = self.service.lexical_search(
            q, k, distributed=distributed, routed=routed
        )
        return {
            "query": q,
            "distributed": distributed,
            "results": [
                {"id": int(d), "score": float(s)} for d, s in hits
            ],
            "count": len(hits),
            "processing_time_ms": int((time.time() - t0) * 1000),
        }

    def get_by_id(self, group_id: int) -> Optional[dict]:
        meta = self._fetch_meta([group_id])
        if group_id not in meta:
            return None
        return _result_item(group_id, meta)

    def get_dependencies(self, group_id: int) -> Optional[dict]:
        cites = self.dependencies.get(group_id, [])
        meta = self._fetch_meta([group_id, *cites])
        if group_id not in meta:
            return None
        return {
            "source_group_id": group_id,
            "citations": [_result_item(c, meta) for c in cites],
            "count": len(cites),
        }


class _Handler(BaseHTTPRequestHandler):
    api: SearchAPI  # set by serve()

    def log_message(self, *a):  # pragma: no cover - silence test noise
        pass

    def _send(self, code: int, body: dict) -> None:
        data = json.dumps(body).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self) -> None:  # noqa: N802 - stdlib API
        u = urlparse(self.path)
        path, qs = u.path, parse_qs(u.query)
        if path == f"{ROOT}/heartbeat":
            return self._send(200, self.api.heartbeat())
        if path == f"{ROOT}/search":
            q = qs.get("q", [""])[0]
            if not q:
                return self._send(422, {"detail": "q is required"})
            pkg = qs.get("pkg")
            limit = int(qs.get("limit", ["50"])[0])
            return self._send(200, self.api.search(q, pkg, limit))
        if path == f"{ROOT}/lexical_search":
            q = qs.get("q", [""])[0]
            if not q:
                return self._send(422, {"detail": "q is required"})
            k = int(qs.get("k", ["50"])[0])
            dist = qs.get("distributed", ["false"])[0].lower() == "true"
            routed = qs.get("routed", ["false"])[0].lower() == "true"
            return self._send(
                200, self.api.lexical_search(q, k, dist, routed)
            )
        parts = path.strip("/").split("/")
        # api/v1/statement_groups/{id}[/dependencies]
        if len(parts) >= 4 and parts[2] == "statement_groups":
            try:
                gid = int(parts[3])
            except ValueError:
                return self._send(422, {"detail": "invalid id"})
            if len(parts) == 4:
                item = self.api.get_by_id(gid)
            elif len(parts) == 5 and parts[4] == "dependencies":
                item = self.api.get_dependencies(gid)
            else:
                return self._send(404, {"detail": "not found"})
            if item is None:
                return self._send(404, {"detail": "not found"})
            return self._send(200, item)
        self._send(404, {"detail": "not found"})

    def do_POST(self) -> None:  # noqa: N802 - stdlib API
        u = urlparse(self.path)
        if u.path != f"{ROOT}/search":
            return self._send(404, {"detail": "not found"})
        try:
            n = int(self.headers.get("Content-Length", "0"))
            body = json.loads(self.rfile.read(n) or b"{}")
            queries = body["queries"]
            assert isinstance(queries, list) and all(
                isinstance(q, str) for q in queries
            )
        except Exception:
            return self._send(422, {"detail": "body must be {queries: [str]}"})
        pkg = body.get("pkg")
        limit = int(body.get("limit", 50))
        return self._send(200, self.api.batch_search(queries, pkg, limit))


class APIServer:
    """Threaded stdlib server wrapper: ``start()`` binds an ephemeral
    port (or the one given) and serves until ``stop()``."""

    def __init__(self, api: SearchAPI, host: str = "127.0.0.1", port: int = 0):
        handler = type("Handler", (_Handler,), {"api": api})
        self.api = api
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: Optional[threading.Thread] = None

    @property
    def url(self) -> str:
        h, p = self.httpd.server_address[:2]
        return f"http://{h}:{p}{ROOT}"

    def start(self) -> "APIServer":
        # fork the routed fan-out's workers while this is the only
        # thread: forking later, from a request thread, copies whatever
        # locks the other request threads hold at that moment
        engine = self.api.service.engine
        if engine._preloaded:
            engine._ensure_fork_pool()
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=10)
