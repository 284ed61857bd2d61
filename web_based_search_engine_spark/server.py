"""HTTP search endpoint — the JavalinServer analog (JavalinServer.java:44-75).

The reference serves HTML pages rendered from jte templates; the rebuild
serves BOTH: the same two HTML pages (``/`` = index.jte analog, ``/result``
= result.jte analog, same DOM structure rendered from the assembled result
rows) and a JSON API (``/search``) for programmatic callers.  The request
semantics are the same either way:

- one query string parameter carrying free text plus at most one quoted
  phrase (``"(.*)"`` greedy group, JavalinServer.java:55-61 — the parsing
  warts W3/W4 are inherited via plans.query.parse_query);
- results sorted by score desc, limited to ``maxSearchResults`` (:66-70;
  our top-k additionally pins the doc_id tiebreak);
- each result carries the assembled SearchResult fields: doc identity,
  score, top-5 keywords, parent/child links decoded to paths
  (SearchResult.java:33-44, Indexer.java:194-231).

Implementation: stdlib ``ThreadingHTTPServer`` — no web framework is baked
into the engine (the sandbox has none; a real deployment would front this
with whatever serving tier it already runs).  Spark is thread-safe for
concurrent actions, and the QueryEngine's driver-side term/bound caches are
shared across requests, so repeated terms skip their lookup jobs.

Routes:
  GET /                       -> HTML search page (index.jte analog)
  GET /result?search=...      -> HTML results page (result.jte analog)
  GET /health                 -> {"status": "ok", "n_docs": N}
  GET /search?q=...&k=50      -> {"query": ..., "k": ..., "results": [...]}
  POST /refresh               -> cut over to the latest committed index
                                 snapshot (QueryEngine.refresh); returns
                                 the new {"n_docs": N}.  In-flight queries
                                 finish on the snapshot they resolved
                                 (storage.vacuum keep_last>=2 keeps it on
                                 disk); the reference's equivalent is
                                 re-running the Indexer and restarting.
"""

from __future__ import annotations

import html
import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .config import MAX_SEARCH_RESULTS


def _jsonable(v):
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


_SEARCH_FORM = (
    '<form action="/result">\n'
    '<input type="text" name="search" placeholder="Enter your search query">\n'
    '<input type="submit" value="Search">\n'
    "</form>"
)


def render_index_page() -> str:
    """index.jte analog: title + form posting to /result (index.jte:1-16)."""
    return (
        "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n"
        "<title>Search Page</title>\n</head>\n<body>\n"
        "<h1>Search Page</h1>\n" + _SEARCH_FORM + "\n</body>\n</html>"
    )


def _link_list(paths) -> str:
    items = "".join(
        f'<li><a href="{html.escape(p, quote=True)}">{html.escape(p)}</a></li>\n'
        for p in (paths or [])
    )
    return f"<ul>\n{items}</ul>"


def render_result_page(keywords, phrase, rows) -> str:
    """result.jte analog, same DOM structure (result.jte:1-48).

    ``keywords``/``phrase`` are the analyzed (stemmed) query terms — the
    reference's header shows keywordStems/phraseStems
    (JavalinServer.java:50-64); ``rows`` are assembled SearchResult rows
    (plans/query.py _assemble).  Field mapping to SearchResult.java: title
    and url are the doc ``path`` (the corpus's title/identity field);
    ``lastModified, pageSize`` renders as ``commit, size_bytes`` (the
    version + byte-size metadata this corpus carries); keywords render
    "term tf; " like topKeywordsToString (SearchResult.java:33-44);
    parent/child links are the decoded neighbor paths."""
    # Java's List/Set toString: [a, b, c]
    kw_hdr = html.escape("[" + ", ".join(keywords) + "]")
    ph_hdr = html.escape("[" + ", ".join(phrase) + "]")
    parts = [
        "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n"
        "<title>Search Results</title>\n</head>\n<body>\n",
        _SEARCH_FORM,
        "\n<h1>Search Results</h1>\n",
        f"<h4>Search keywords: {kw_hdr}</h4>\n",
        f"<h4>Search phrase: {ph_hdr}</h4>\n",
        "<ol>\n",
    ]
    if not rows:
        parts.append("<p>No matching document found.</p>\n")
    for r in rows:
        path = html.escape(r["path"] or "")
        href = html.escape(r["path"] or "", quote=True)
        # field guards throughout: an index built without the forward /
        # links / size_bytes tables assembles rows without those columns —
        # /result must degrade like /search does, not 500 (ADVICE r4)
        kw_rows = r["keywords"] if "keywords" in r.__fields__ else None
        kws = "".join(
            f'{html.escape(k["term"])} {k["tf"]}; ' for k in (kw_rows or [])
        )
        size = r["size_bytes"] if "size_bytes" in r.__fields__ else r["body_len"]
        commit = r["commit"] if "commit" in r.__fields__ else ""
        parts.append(
            "<li>\n"
            f'<h3>{r["score"]:.4f} <a href="{href}">{path}</a></h3>\n'
            f'<a href="{href}">{href}</a>\n'
            f"<p>{html.escape(str(commit))}, {size}</p>\n"
            f"<p>Keywords: {kws}</p>\n"
            "<p>Parent Links:</p>\n"
            f"{_link_list(r['parent_paths'] if 'parent_paths' in r.__fields__ else None)}\n"
            "<p>Child Links:</p>\n"
            f"{_link_list(r['child_paths'] if 'child_paths' in r.__fields__ else None)}\n"
            "</li>\n"
        )
    parts.append("</ol>\n</body>\n</html>")
    return "".join(parts)


def make_handler(engine):
    class Handler(BaseHTTPRequestHandler):
        def _json(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _html(self, code: int, page: str) -> None:
            body = page.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API)
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path == "/":
                self._html(200, render_index_page())
                return
            if parsed.path == "/result":
                from .plans.query import parse_query

                qs = urllib.parse.parse_qs(parsed.query)
                query = qs.get("search", [""])[0]
                if not query:
                    # empty form submit: render the index page again, like
                    # hitting / (the reference would throw on a null param;
                    # a blank re-prompt is the friendlier equivalent)
                    self._html(200, render_index_page())
                    return
                try:
                    # one parse serves the page header and the search
                    pq = parse_query(query, engine.analysis)
                    rows = engine.search_terms(
                        pq.keywords, pq.phrase, k=MAX_SEARCH_RESULTS
                    ).collect()
                    self._html(200, render_result_page(pq.keywords, pq.phrase, rows))
                except Exception as e:  # noqa: BLE001 — surface as HTTP 500
                    self._html(
                        500,
                        "<!DOCTYPE html><html><body><h1>Error</h1><p>"
                        + html.escape(str(e)[:500])
                        + "</p></body></html>",
                    )
                return
            if parsed.path == "/health":
                self._json(200, {"status": "ok", "n_docs": engine.n_docs})
                return
            if parsed.path != "/search":
                self._json(404, {"error": "unknown path", "path": parsed.path})
                return
            qs = urllib.parse.parse_qs(parsed.query)
            query = qs.get("q", [""])[0]
            if not query:
                self._json(400, {"error": "missing q parameter"})
                return
            try:
                k = int(qs.get("k", [str(MAX_SEARCH_RESULTS)])[0])
            except ValueError:
                self._json(400, {"error": "k must be an integer"})
                return
            try:
                if k < 1:
                    self._json(400, {"error": "k must be >= 1", "k": k})
                    return
                k = min(k, MAX_SEARCH_RESULTS)
                rows = engine.search(query, k=k).collect()
                results = [_jsonable(r.asDict(recursive=True)) for r in rows]
                self._json(200, {"query": query, "k": k, "results": results})
            except Exception as e:  # noqa: BLE001 — surface as HTTP 500
                self._json(500, {"error": str(e)[:500]})

        def do_POST(self):  # noqa: N802 (http.server API)
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path != "/refresh":
                self._json(404, {"error": "unknown path", "path": parsed.path})
                return
            try:
                # one cutover at a time (two concurrent refreshes would
                # race building states); searches need no lock because the
                # engine's cutover is a single atomic swap of one immutable
                # _SnapshotState object — a search captures the state once
                # at entry and keeps its whole pipeline (handles AND cache
                # write-backs) on that snapshot (plans/query.py refresh())
                with refresh_lock:
                    engine.refresh()
                self._json(200, {"status": "ok", "n_docs": engine.n_docs})
            except Exception as e:  # noqa: BLE001 — surface as HTTP 500
                self._json(500, {"error": str(e)[:500]})

        def log_message(self, *args):  # quiet: the engine logs via Spark
            pass

    refresh_lock = threading.Lock()

    return Handler


class SearchServer:
    """Owns the HTTP listener; ``start()`` serves on a daemon thread (tests
    / embedding), ``serve_forever()`` blocks (CLI ``server`` command —
    App.java:50-55 analog)."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.httpd = ThreadingHTTPServer((host, port), make_handler(engine))
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]

    def start(self) -> "SearchServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
