"""Span recorder for the traced run, installed from outside the package.

Each wrapper records a span (name, start, end, parent, request id, phase)
around one public call of a layer and tags the Spark jobs the call runs
with a job group of its own, read back from the status tracker at the end.
Spans stay in memory until the run writes them out.  ``NullTracer`` is the
untraced run's stand-in: same interface, no recording, no job groups.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager, nullcontext

GROUP_PREFIX = "perfbench-"
STATS_GROUP = "perfbench-stats"   # WAND block-count replays: counted nowhere


class NullTracer:
    enabled = False
    phase = "setup"

    def span(self, name, parent=None, req=None):
        return nullcontext()

    def headers(self):
        return {}


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.phase = "setup"
        self.spans: list[dict] = []
        self.queries: list[dict] = []      # cache hit facts per search call
        self.wand_calls: list[tuple] = []  # (phase, args, kwargs) for replay
        self.overhead_s: dict[str, float] = {}  # phase -> bookkeeping seconds
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s[self.phase] = self.overhead_s.get(self.phase, 0.0) + seconds

    @contextmanager
    def span(self, name: str, parent: int | None = None, req: int | None = None):
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        if parent is None and stack:
            parent, req = stack[-1]
        req = req or sid
        stack.append((sid, req))
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        t0 = time.perf_counter()
        self._charge(t0 - t_in)
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"{GROUP_PREFIX}{stack[-1][0]}" if stack else None
            )
            rec = {"id": sid, "name": name, "parent": parent, "req": req,
                   "start": t0, "end": t1, "phase": self.phase,
                   "thread": threading.get_ident()}
            with self._lock:
                self.spans.append(rec)
            self._charge(time.perf_counter() - t1)

    def headers(self) -> dict[str, str]:
        """Trace context for an HTTP request sent from inside a span."""
        stack = self._stack()
        if not stack:
            return {}
        sid, req = stack[-1]
        return {"X-Trace-Parent": str(sid), "X-Trace-Req": str(req)}

    def job_counts(self) -> None:
        """Attach each span's own Spark job count (jobs of nested spans
        carry the nested span's group, so counts never overlap)."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s["jobs"] = len(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s['id']}"))

    # ----------------------------------------------------------- wrappers
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapped)

    def install(self) -> None:
        from web_based_search_engine_spark.operators import scoring, wand
        from web_based_search_engine_spark.plans import build, query
        from web_based_search_engine_spark.streaming import incremental

        qe = query.QueryEngine
        parse = query.parse_query
        self._wrap(query, "parse_query", "plans.query.parse")
        self._wrap(qe, "_assemble", "plans.query.assemble_plan")
        self._wrap(qe, "refresh", "plans.query.refresh")
        self._wrap(query, "phrase_doc_ids", "operators.phrase.candidates")
        self._wrap(qe, "_cache_candidates", "operators.phrase.materialize")
        self._wrap(scoring, "lookup_terms", "operators.scoring.lookup")
        self._wrap(build.IndexBuilder, "build", "plans.build")
        self._wrap(incremental, "incremental_update", "streaming.incremental.upsert")
        self._wrap(incremental, "plan_freshness", "streaming.incremental.plan")

        orig_search = qe.search

        def search(engine, q, *args, **kwargs):
            t_in = time.perf_counter()
            terms_before = set(engine._term_cache)
            phrases_before = set(engine._phrase_cache)
            self._charge(time.perf_counter() - t_in)
            with self.span("plans.query.search") as sid:
                df = orig_search(engine, q, *args, **kwargs)
            t_out = time.perf_counter()
            pq = parse(q, engine.analysis)
            with self._lock:
                self.queries.append({
                    "span": sid, "phase": self.phase,
                    "terms": len(pq.keywords),
                    "term_hits": sum(t in terms_before for t in pq.keywords),
                    "phrase": bool(pq.phrase),
                    "phrase_hit": ("p", *pq.phrase) in phrases_before,
                })
            orig_collect = df.collect

            def collect():
                with self.span("plans.query.execute"):
                    return orig_collect()

            df.collect = collect
            self._charge(time.perf_counter() - t_out)
            return df

        self._patch(qe, "search", search)

        orig_wand = wand.wand_top_k

        def wand_top_k(*args, **kwargs):
            with self.span("operators.wand"):
                out = orig_wand(*args, **kwargs)
            with self._lock:
                self.wand_calls.append((self.phase, args, kwargs))
            return out

        self._patch(wand, "wand_top_k", wand_top_k)
        self._orig_wand = orig_wand

    def install_server(self, server) -> None:
        """Wrap the live server's handler so server-side spans join the
        client's trace through the X-Trace-* headers."""
        cls = server.httpd.RequestHandlerClass
        for attr in ("do_GET", "do_POST"):
            orig = getattr(cls, attr)

            def wrapped(handler, _orig=orig):
                parent = handler.headers.get("X-Trace-Parent")
                req = handler.headers.get("X-Trace-Req")
                with self.span("server", int(parent) if parent else None,
                               int(req) if req else None):
                    _orig(handler)

            self._patch(cls, attr, wrapped)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def wand_block_counts(self, phase: str) -> tuple[int, int]:
        """Replay the phase's WAND calls with a ``stats`` dict under a job
        group no span owns, so the two count() jobs ``stats`` costs stay out
        of every job count and span.  Returns (candidate, decoded) blocks."""
        cand = dec = 0
        self.sc.setLocalProperty("spark.jobGroup.id", STATS_GROUP)
        try:
            for ph, args, kwargs in self.wand_calls:
                if ph != phase:
                    continue
                stats: dict = {}
                kw = dict(kwargs, stats=stats, persist_registry=None,
                          bounds_cache=dict(kwargs.get("bounds_cache") or {}))
                self._orig_wand(*args, **kw)
                cand += int(stats.get("candidate_blocks") or 0)
                dec += int(stats.get("decoded_blocks") or 0)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return cand, dec
