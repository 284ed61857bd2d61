"""HTTP search endpoint (server.py, JavalinServer.java:44-75 analog)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

from web_based_search_engine_spark.config import MAX_SEARCH_RESULTS
from web_based_search_engine_spark.plans.query import QueryEngine, parse_query
from web_based_search_engine_spark.server import SearchServer, render_result_page


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # non-2xx still carries a JSON body
        return e.code, json.loads(e.read())


def _get_html(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            assert r.headers["Content-Type"].startswith("text/html")
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_server_search_and_health(spark, built_index):
    qe = QueryEngine(spark, built_index["storage"])
    srv = SearchServer(qe, port=0).start()  # ephemeral port
    try:
        status, health = _get(srv.port, "/health")
        assert status == 200 and health["status"] == "ok"
        assert health["n_docs"] == built_index["n_docs"]

        q = urllib.parse.quote('searching "engines retrieval"')
        status, body = _get(srv.port, f"/search?q={q}&k=5")
        assert status == 200
        rows = body["results"]
        assert 0 < len(rows) <= 5
        # assembled SearchResult fields present; scores sorted desc
        for col in ("doc_id", "repo", "path", "score", "keywords"):
            assert col in rows[0], col
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        # results identical to a direct engine call
        direct = qe.search('searching "engines retrieval"', k=5).collect()
        assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in direct]

        # k is capped at the reference's maxSearchResults=50
        status, body = _get(srv.port, "/search?q=posting&k=500")
        assert status == 200 and body["k"] == 50

        # bad requests
        status, _ = _get(srv.port, "/search")
        assert status == 400
        status, _ = _get(srv.port, "/nope")
        assert status == 404
        # malformed k is a CLIENT error (400), not a 500
        status, body = _get(srv.port, "/search?q=posting&k=abc")
        assert status == 400 and "integer" in body["error"]
    finally:
        srv.stop()


def test_server_html_pages(spark, built_index):
    """HTML parity routes (result.jte / index.jte analogs, server.py)."""
    qe = QueryEngine(spark, built_index["storage"])
    srv = SearchServer(qe, port=0).start()
    try:
        # index page: form posting to /result with a `search` input
        status, page = _get_html(srv.port, "/")
        assert status == 200
        assert "<title>Search Page</title>" in page
        assert 'action="/result"' in page and 'name="search"' in page

        # results page mirrors result.jte's DOM: headers with the analyzed
        # stems, an <ol> of results with %.4f scores, keyword "term tf; "
        # lines, parent/child link lists
        q = urllib.parse.quote('searching "engines retrieval"')
        status, page = _get_html(srv.port, f"/result?search={q}")
        assert status == 200
        assert "<title>Search Results</title>" in page
        assert "<h1>Search Results</h1>" in page
        assert "Search keywords: [" in page and "Search phrase: [" in page
        # same docs, same order as the engine call the JSON route makes
        rows = qe.search('searching "engines retrieval"', k=50).collect()
        assert rows, "fixture query must match"
        for r in rows:
            assert f"{r['score']:.4f}" in page
            assert r["path"] in page
        assert "<p>Parent Links:</p>" in page and "<p>Child Links:</p>" in page
        assert "Keywords: " in page
        # the whole page is the one a plain engine.search renders
        pq = parse_query('searching "engines retrieval"', qe.analysis)
        assert page == render_result_page(
            pq.keywords, pq.phrase,
            qe.search('searching "engines retrieval"', k=MAX_SEARCH_RESULTS).collect(),
        )

        # no-hit query renders the empty-state paragraph, not an error
        status, page = _get_html(
            srv.port, "/result?search=" + urllib.parse.quote("zzqqxxyy0042")
        )
        assert status == 200 and "No matching document found." in page

        # blank form submit re-prompts with the index page
        status, page = _get_html(srv.port, "/result")
        assert status == 200 and "<title>Search Page</title>" in page

        # query text is HTML-escaped in the headers (no tag injection)
        q = urllib.parse.quote('<script>alert(1)</script> posting')
        status, page = _get_html(srv.port, f"/result?search={q}")
        assert status == 200 and "<script>alert(1)" not in page
    finally:
        srv.stop()


def test_server_concurrent_requests(spark, built_index):
    """Serving claim under load: Spark is thread-safe for concurrent
    actions and the engine's driver-side term/phrase caches are shared
    across requests (server.py module docstring) — N parallel requests
    across JSON/HTML routes and query shapes must each return the same
    payload as the identical sequential request."""
    from concurrent.futures import ThreadPoolExecutor

    qe = QueryEngine(spark, built_index["storage"])
    srv = SearchServer(qe, port=0).start()
    try:
        shapes = [
            "/search?q=" + urllib.parse.quote('searching "engines retrieval"') + "&k=5",
            "/search?q=posting&k=3",
            "/result?search=" + urllib.parse.quote("merge_sort index"),
            "/health",
        ] * 4  # 16 in-flight requests over 4 distinct shapes
        sequential = [_raw(srv.port, p) for p in shapes[:4]]
        with ThreadPoolExecutor(max_workers=8) as pool:
            concurrent = list(pool.map(lambda p: _raw(srv.port, p), shapes))
        for i, (status, body) in enumerate(concurrent):
            assert status == 200, shapes[i % 4]
            assert body == sequential[i % 4][1], shapes[i % 4]
    finally:
        srv.stop()


def _raw(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
        return r.status, r.read()


def test_server_refresh_endpoint(spark, tmp_path):
    """POST /refresh cuts the serving engine over to the latest committed
    snapshot — upsert, refresh over HTTP, and the new doc is searchable
    without a restart (the reference's re-index + restart cycle)."""
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage
    from web_based_search_engine_spark.streaming.incremental import incremental_update

    cfg = IndexConfig(num_term_buckets=2, block_size=8)
    storage = ParquetIndexStorage(tmp_path / "idx")
    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta alpha"),
        ("r/a", "f2.py", "c1", "py", "gamma delta"),
    ]
    IndexBuilder(spark, storage, cfg).build(
        spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA)
    )
    qe = QueryEngine(spark, storage)
    srv = SearchServer(qe, port=0).start()
    try:
        status, body = _get(srv.port, "/search?q=epsilon")
        assert status == 200 and body["results"] == []

        incremental_update(
            spark, storage,
            spark.createDataFrame(
                [("r/a", "f3.py", "c1", "py", "epsilon alpha")],
                fixtures.CORPUS_SCHEMA,
            ),
            cfg,
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/refresh", method="POST"
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            refreshed = json.loads(r.read())
        assert refreshed == {"status": "ok", "n_docs": 3}

        status, body = _get(srv.port, "/search?q=epsilon")
        assert status == 200
        assert [r["path"] for r in body["results"]] == ["f3.py"]

        # POST to any other path is a 404, and GET /refresh stays unknown
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/search?q=x", method="POST"
        )
        try:
            urllib.request.urlopen(req, timeout=60)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()
