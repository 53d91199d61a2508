"""HTTP serving surface: route shapes and field names must match the
reference FastAPI models exactly (api/server.py:66-113,
shared/models/api.py:40-120) so a reference client can switch over."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from lean_explore_spark.api.server import APIServer, SearchAPI
from lean_explore_spark.index.builder import IndexBuilder
from lean_explore_spark.query.service import SearchService
from tests.conftest import SF_SMOKE

SEARCH_FIELDS = {
    "query",
    "packages_applied",
    "results",
    "count",
    "total_candidates_considered",
    "processing_time_ms",
}
ITEM_FIELDS = {
    "id",
    "primary_declaration",
    "source_file",
    "range_start_line",
    "range_end_line",
    "display_statement_text",
    "statement_text",
    "docstring",
    "informal_description",
}
CITATION_FIELDS = {"source_group_id", "citations", "count"}


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("api") / "idx"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    IndexBuilder(spark, str(out), num_shards=2, num_buckets=4).build(
        docs, resume=False
    )
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    svc = SearchService(spark, str(out), emb, doc_meta=docs)
    docs_meta = docs.selectExpr(
        "doc_id", "concat('https://corpus/doc/', doc_id) AS url", "text"
    )
    api = SearchAPI(
        svc, doc_meta=docs_meta, dependencies={0: [1, 2], 1: []}
    )
    srv = APIServer(api).start()
    yield srv
    srv.stop()
    svc.engine.close_pool()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read().decode())


def test_heartbeat(server):
    status, body = _get(f"{server.url}/heartbeat")
    assert status == 200 and body == {"status": "ok"}


def test_search_route_shape(server):
    status, body = _get(
        f"{server.url}/search?q=fast+table+scan&limit=5"
    )
    assert status == 200
    assert SEARCH_FIELDS <= set(body)
    assert body["query"] == "fast table scan"
    assert body["count"] == len(body["results"]) <= 5
    for item in body["results"]:
        assert ITEM_FIELDS <= set(item)
        assert set(item["primary_declaration"]) == {"lean_name"}
        assert item["statement_text"]


def test_search_pkg_filter_and_errors(server):
    status, body = _get(
        f"{server.url}/search?q=fast+table+scan&pkg=de&limit=3"
    )
    assert status == 200 and body["packages_applied"] == ["de"]
    try:
        _get(f"{server.url}/search")
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 422
    assert raised


def test_get_by_id(server):
    status, body = _get(f"{server.url}/statement_groups/0")
    assert status == 200 and body["id"] == 0
    assert ITEM_FIELDS <= set(body)
    try:
        _get(f"{server.url}/statement_groups/999999999")
        missing_404 = False
    except urllib.error.HTTPError as e:
        missing_404 = e.code == 404
    assert missing_404


def test_dependencies_route(server):
    status, body = _get(f"{server.url}/statement_groups/0/dependencies")
    assert status == 200
    assert set(body) == CITATION_FIELDS
    assert body["source_group_id"] == 0 and body["count"] == 2
    assert [c["id"] for c in body["citations"]] == [1, 2]


def test_batch_search_route_and_client(server):
    """POST /search (reference local/service.py:331-341 batch surface)
    + the thin Client (api/client.py analog): one round trip, responses
    in input order, each the same body as the GET route."""
    from lean_explore_spark.api.client import Client

    cli = Client(server.url, api_key="test-key")
    qs = ["fast table scan", "merge join"]
    batch = cli.batch_search(qs, limit=5)
    assert batch["count"] == 2
    assert [r["query"] for r in batch["responses"]] == qs
    for resp in batch["responses"]:
        assert SEARCH_FIELDS <= set(resp)

    # client single + fan-out GET paths match the batch bodies
    single = cli.search(qs[0], limit=5)
    assert single["query"] == qs[0]
    assert [r["id"] for r in single["results"]] == [
        r["id"] for r in batch["responses"][0]["results"]
    ]
    many = cli.search(qs, limit=5)
    assert [m["query"] for m in many] == qs

    # get_by_id / get_dependencies parity incl. 404→None
    assert cli.get_by_id(0)["id"] == 0
    assert cli.get_by_id(999999999) is None
    deps = cli.get_dependencies(0)
    assert deps["count"] == 2
    assert cli.get_by_id([0, 999999999])[1] is None


def test_lexical_search_route(server):
    # the routed fan-out's workers were forked by start(), before any
    # request thread existed; no request has asked for them yet
    assert server.api.service.engine._fork_pool is not None
    status, body = _get(
        f"{server.url}/lexical_search?q=fast+table+scan&k=10"
    )
    assert status == 200 and body["count"] <= 10
    status2, body2 = _get(
        f"{server.url}/lexical_search?q=fast+table+scan&k=10&distributed=true"
    )
    assert status2 == 200 and body2["distributed"] is True
    assert body["results"] == body2["results"]
    # routed (posting-mass) serving is reachable and bit-identical
    status3, body3 = _get(
        f"{server.url}/lexical_search?q=fast+table+scan&k=10&routed=true"
    )
    assert status3 == 200 and body3["results"] == body["results"]
