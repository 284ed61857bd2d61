"""Rank-identity harness (SURVEY §5 item 3, FIXTURES.md F4): the Spark
engine's top-50 must be rank-identical (and score-equal to 1e-9 rtol)
against the deterministic pandas oracle on the F1-small corpus, for every
reference query, under both scorers, served from the block index alone.

Rank comparison joins on the doc natural key; both sides break ties with
the same total order (score desc, natural key asc == doc_id asc because
dense ids are assigned in global key order — operators/ids.py)."""

from __future__ import annotations

import pytest

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import ScoringConfig
from web_based_search_engine_spark.oracle import pandas_oracle as O
from web_based_search_engine_spark.plans.query import QueryEngine, parse_query

K = 50


def _engine(spark, built_index, scorer):
    return QueryEngine(
        spark,
        built_index["storage"],
        scoring=ScoringConfig(scorer=scorer),
    )


def _doc_key_map(spark, built_index):
    docs = built_index["storage"].read_table(spark, "docs")
    return {
        r["doc_id"]: (r["repo"], r["path"], r["commit"])
        for r in docs.select("doc_id", "repo", "path", "commit").collect()
    }


def _oracle_topk(oracle_index, query, scorer):
    pq = parse_query(query)
    scores = O.score(oracle_index, pq.keywords, ScoringConfig(scorer=scorer))
    return O.top_k(oracle_index, scores, K, pq.phrase or None)


def assert_rank_identical(got, want, ctx, rtol=1e-9):
    """Rank identity with exact-tie tolerance: docs whose oracle scores are
    equal (within rtol) form a tie group ordered by doc key; summation-order
    float noise in the engine may permute docs *within* such a group, which
    is not a rank error.  Outside tie groups, order must match exactly."""
    assert len(got) == len(want), f"{ctx}: size {len(got)} != {len(want)}"
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= rtol * max(
            abs(want[i][1]), 1e-300
        ):
            j += 1
        got_grp = {k for k, _ in got[i:j]}
        want_grp = {k for k, _ in want[i:j]}
        assert got_grp == want_grp, f"{ctx}: rank group [{i}:{j}] mismatch"
        for (_, gs), (_, ws) in zip(got[i:j], want[i:j]):
            assert gs == pytest.approx(ws, rel=1e-9), f"{ctx}: score mismatch at {i}"
        i = j


def test_rank_identity_blocks_wand(spark, built_index, oracle_index, force_prune):
    """Forced block-max WAND pruning == oracle (bm25 only): the pruned
    path, which prune="auto" leaves off at this corpus size, ranks every
    reference query exactly like the oracle."""
    force_prune()
    qe = QueryEngine(spark, built_index["storage"])
    key_of = _doc_key_map(spark, built_index)
    for qid, query in fixtures.REFERENCE_QUERIES.items():
        got = [
            (key_of[r["doc_id"]], r["score"])
            for r in qe.search(query, k=K, assemble=False).collect()
        ]
        want = _oracle_topk(oracle_index, query, "bm25")
        assert_rank_identical(got, want, f"{qid} (wand)")


def test_wand_equals_exhaustive(spark, built_index):
    """Pruning is lossless: WAND top-k == exhaustive top-k over the same
    decode path (SURVEY §5 item 6)."""
    from web_based_search_engine_spark.operators import wand as W

    storage = built_index["storage"]
    blocks = storage.read_table(spark, "blocks")
    docs = storage.read_table(spark, "docs")
    vocab = storage.read_table(spark, "vocab")
    st = storage.read_table(spark, "stats").collect()[0]
    for terms in [
        ["foobar"], ["search", "engin", "retriev"],
        ["foobar", "helloworld", "getvalu", "run", "cat"],
    ]:
        pruned = W.wand_top_k(
            blocks, docs, vocab, terms, st["n_docs"], st["avg_doc_len"], prune=True
        ).collect()
        full = W.wand_top_k(
            blocks, docs, vocab, terms, st["n_docs"], st["avg_doc_len"], prune=False
        ).collect()
        assert [(r["doc_id"], round(r["score"], 12)) for r in pruned] == [
            (r["doc_id"], round(r["score"], 12)) for r in full
        ], terms


def test_auto_prune_threshold_counts_postings(spark, built_index, monkeypatch):
    """prune="auto" engages past AUTO_PRUNE_POSTINGS candidate postings (the
    query terms' summed df), whatever the block size: on this 16-posting
    block index the decision flips exactly at the query's posting count,
    and both sides rank the same."""
    from web_based_search_engine_spark.operators import wand as W

    assert built_index["cfg"].block_size != 128
    qe = _engine(spark, built_index, "bm25")
    q = "searching engines retrieval"
    n_postings = sum(r["df"] for r in qe._lookup_cached(parse_query(q).keywords))
    pruned, results = [], []
    for cap in (n_postings - 1, n_postings):
        monkeypatch.setattr(W, "AUTO_PRUNE_POSTINGS", cap)
        stats: dict = {}
        rows = qe.search(q, k=10, assemble=False, wand_stats=stats).collect()
        pruned.append(stats["pruned"])
        results.append([(r["doc_id"], round(r["score"], 12)) for r in rows])
    assert pruned == [True, False]
    assert results[0] == results[1] and results[0]

    # pruning needs bm25's additive bounds: past the threshold "auto"
    # still decodes a reference query exhaustively, and forcing it raises
    monkeypatch.setattr(W, "AUTO_PRUNE_POSTINGS", n_postings - 1)
    args = (qe.blocks, qe.docs, qe.vocab, parse_query(q).keywords,
            qe.n_docs, qe.avg_doc_len, ScoringConfig(scorer="reference"))
    stats = {}
    assert W.wand_top_k(*args, k=10, stats=stats).collect()
    assert stats["pruned"] is False
    with pytest.raises(ValueError, match="requires bm25"):
        W.wand_top_k(*args, k=10, prune=True)


class _StorageWithoutPostings:
    """Storage shim that makes the uncompressed postings table unreadable:
    the query engine must serve everything from the block index."""

    def __init__(self, inner):
        self._inner = inner

    def read_table(self, spark, name):
        if name == "postings":
            raise AssertionError("the query engine must not read the postings table")
        return self._inner.read_table(spark, name)

    def has_table(self, name):
        return name != "postings" and self._inner.has_table(name)


def _oracle_near_keys(oracle_index, terms, window):
    """Docs whose distinct ``terms`` all occur within a ``window``-token
    span of one field: brute-force minimal cover over each field's
    occurrences (independent of the engine's aggregate fold)."""
    terms = list(dict.fromkeys(terms))
    out = set()
    for key in oracle_index.doc_keys:
        for track in (oracle_index.title_pos[key], oracle_index.body_pos[key]):
            if not all(t in track for t in terms):
                continue
            occ = sorted((p, t) for t in terms for p in track[t])
            for i, (start, _) in enumerate(occ):
                seen = set()
                for pos, t in occ[i:]:
                    seen.add(t)
                    if len(seen) == len(terms):
                        if pos - start + 1 <= window:
                            out.add(key)
                        break
    return out


def _no_postings_engine(spark, built_index, scorer):
    return QueryEngine(
        spark,
        _StorageWithoutPostings(built_index["storage"]),
        scoring=ScoringConfig(scorer=scorer),
    )


def _assert_queries_match_oracle(spark, built_index, oracle_index, scorer, queries):
    qe = _no_postings_engine(spark, built_index, scorer)
    key_of = _doc_key_map(spark, built_index)
    for qid, query in queries.items():
        got = [
            (key_of[r["doc_id"]], r["score"])
            for r in qe.search(query, k=K, assemble=False).collect()
        ]
        assert_rank_identical(got, _oracle_topk(oracle_index, query, scorer),
                              f"{qid} ({scorer})")


@pytest.mark.parametrize("scorer", ["bm25", "reference"])
def test_rank_identity_columnar(spark, built_index, oracle_index, scorer):
    """Both scorers serve every reference query from the columnar block
    index alone (one columnar inverted format for every query type): with
    the postings table unreadable, each top-k is rank-identical to the
    pandas oracle."""
    _assert_queries_match_oracle(spark, built_index, oracle_index, scorer,
                                 fixtures.REFERENCE_QUERIES)


def test_blocks_mode_serves_phrase_without_postings_table(spark, built_index, oracle_index):
    """Phrase filtering runs off the block index's positions for both
    scorers: with the postings table unreadable, phrase queries (leading,
    trailing, repeated-term, reversed) are rank-identical to the oracle
    (one positional structure, like PostingIndex.java)."""
    queries = {
        "phrase_tail": 'searching "engines retrieval"',
        "phrase_repeat": '"foo_bar foo_bar"',
        "phrase_mid": 'posting "searching engines" index_builder',
        "phrase_reversed": '"retrieval engines"',
    }
    for scorer in ("bm25", "reference"):
        _assert_queries_match_oracle(spark, built_index, oracle_index, scorer, queries)


@pytest.mark.parametrize("scorer", ["bm25", "reference"])
def test_near_rank_identity_without_postings_table(spark, built_index, oracle_index, scorer):
    """near_search serves from the block index alone: with the postings
    table unreadable, each window query is rank-identical to a brute-force
    minimal-cover filter over the oracle's scores."""
    from web_based_search_engine_spark.functions.analysis import analyze_text_py

    qe = _no_postings_engine(spark, built_index, scorer)
    key_of = _doc_key_map(spark, built_index)
    matched = 0
    for words, window in ((["searching", "engines"], 3),
                          (["searching", "engines", "retrieval"], 12),
                          (["foo_bar", "string_helpers"], 40)):
        terms = list(dict.fromkeys(
            t for w in words for t in analyze_text_py(w, qe.analysis)
        ))
        scores = O.score(oracle_index, terms, ScoringConfig(scorer=scorer))
        near = _oracle_near_keys(oracle_index, terms, window)
        want = sorted(((key, v) for key, v in scores.items() if key in near),
                      key=lambda kv: (-kv[1], kv[0]))[:K]
        got = [
            (key_of[r["doc_id"]], r["score"])
            for r in qe.near_search(words, window, k=K, assemble=False).collect()
        ]
        assert_rank_identical(got, want, f"near {words} {window} ({scorer})")
        matched += bool(want)
    assert matched  # at least one proximity query is non-empty


def test_term_dictionary_cache(spark, built_index):
    """The driver-side term cache (VERDICT r1 #7) resolves repeated query
    terms without re-scanning vocab, caches negatives, and never changes
    results: a repeated query is bit-identical, and the cache holds only
    the queried terms (never the full vocabulary)."""
    qe = _engine(spark, built_index, "bm25")
    q = "searching engines zzqqxx"
    first = [(r["doc_id"], r["score"]) for r in qe.search(q, assemble=False).collect()]
    assert set(qe._term_cache) == {"search", "engin", "zzqqxx"}
    assert qe._term_cache["zzqqxx"] is None  # negative entry cached
    assert qe._term_cache["search"]["term"] == "search"
    # poison the vocab reference: a cache hit must not touch it
    real_vocab = qe.vocab
    qe.vocab = None
    second = [(r["doc_id"], r["score"]) for r in qe.search(q, assemble=False).collect()]
    qe.vocab = real_vocab
    assert first == second and len(first) > 0


def test_sha256_invariant(spark, built_index):
    """Per-row content invariant: docs.sha256 == sha256 of the corpus
    content for every (repo, path, commit) (BASELINE.json input_hint)."""
    from pyspark.sql import functions as F

    docs = built_index["storage"].read_table(spark, "docs")
    corpus = fixtures.corpus_df(spark, built_index["n_docs"])
    joined = corpus.withColumn("want", F.sha2("content", 256)).join(
        docs.select("repo", "path", "commit", "sha256"), ["repo", "path", "commit"]
    )
    assert joined.count() == built_index["n_docs"]
    assert joined.where(F.col("want") != F.col("sha256")).count() == 0


def test_size_bytes_metadata(spark, built_index):
    """Metadata.pageSize analog: docs.size_bytes == byte length of the raw
    content per row (Metadata.java:7-12, Crawler.java:90-93)."""
    from pyspark.sql import functions as F

    docs = built_index["storage"].read_table(spark, "docs")
    corpus = fixtures.corpus_df(spark, built_index["n_docs"])
    joined = corpus.withColumn("want", F.octet_length("content").cast("long")).join(
        docs.select("repo", "path", "commit", "size_bytes"), ["repo", "path", "commit"]
    )
    assert joined.where(F.col("want") != F.col("size_bytes")).count() == 0


def test_wand_persist_registry_bounds_cache_to_one_query(spark, built_index):
    """A serving loop's persist registry holds AT MOST its capacity of
    pruned queries' block sets: with PersistPool(1), each wand_top_k call
    evicts and unpersists the previous query's frame (no per-query
    block-manager leak, r1 review nit)."""
    from web_based_search_engine_spark.operators import wand as W

    storage = built_index["storage"]
    blocks = storage.read_table(spark, "blocks")
    docs = storage.read_table(spark, "docs")
    vocab = storage.read_table(spark, "vocab")
    st = storage.read_table(spark, "stats").collect()[0]

    registry = W.PersistPool(1)
    W.wand_top_k(blocks, docs, vocab, ["foobar"], st["n_docs"],
                 st["avg_doc_len"], prune=True,
                 persist_registry=registry).collect()
    assert len(registry) == 1
    first = registry._entries[0]
    assert first.storageLevel.useMemory  # pinned while current

    W.wand_top_k(blocks, docs, vocab, ["search", "engin"], st["n_docs"],
                 st["avg_doc_len"], prune=True,
                 persist_registry=registry).collect()
    assert len(registry) == 1 and registry._entries[0] is not first
    assert not first.storageLevel.useMemory  # previous query released
    assert registry.evictions == 1
    registry.release_all()


def test_wand_zipf_head_pruning_engages(spark, tmp_path):
    """Directive r4-7: adversarial hot-term query — one term with
    df = 0.5*N.  Block-max pruning must ENGAGE (blocks decoded << candidate
    blocks: the hot term's tf=1 blocks are bounded below the threshold set
    by the few high-tf docs) and stay lossless (pruned top-k == exhaustive
    top-k, scores bit-equal)."""
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.operators import wand as W
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    n = 1280
    pad = "pad0 pad1 pad2 pad3 pad4 pad5 pad6"
    rows = []
    for i in range(n):
        if i < 10:          # the docs that set a high threshold: rare term
            body = "zzrare " + " ".join(["zzhot"] * 16)
        elif i < n // 2:    # hot term tf=1 -> weak block bounds
            body = "zzhot " + pad
        else:
            body = "pad7 " + pad
        rows.append(("r/z", f"d{i:05d}.py", "c1", "py", body))
    storage = ParquetIndexStorage(tmp_path / "idx")
    cfg = IndexConfig(num_term_buckets=2, block_size=16)
    IndexBuilder(spark, storage, cfg).build(
        spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA)
    )
    blocks = storage.read_table(spark, "blocks")
    docs = storage.read_table(spark, "docs")
    vocab = storage.read_table(spark, "vocab")
    st = storage.read_table(spark, "stats").collect()[0]
    # the head term really has df = 0.5*N
    vrow = {r["term"]: r["df"] for r in vocab.collect()}
    assert vrow["zzhot"] == n // 2 and vrow["zzrare"] == 10

    stats: dict = {}
    pruned = W.wand_top_k(
        blocks, docs, vocab, ["zzhot", "zzrare"], st["n_docs"],
        st["avg_doc_len"], prune=True, k=10, stats=stats,
    ).collect()
    full = W.wand_top_k(
        blocks, docs, vocab, ["zzhot", "zzrare"], st["n_docs"],
        st["avg_doc_len"], prune=False, k=10,
    ).collect()
    # lossless
    assert [(r["doc_id"], round(r["score"], 12)) for r in pruned] == [
        (r["doc_id"], round(r["score"], 12)) for r in full
    ]
    # pruning ENGAGED: ~40 hot blocks + 1 rare block in the candidate set;
    # every tf=1-only hot block is bounded out, so the decode is a small
    # fraction of the scan an exhaustive evaluation would pay
    assert stats["pruned"] is True
    assert stats["candidate_blocks"] >= 30, stats
    assert stats["decoded_blocks"] * 2 <= stats["candidate_blocks"], stats
    assert stats["tau"] > 0
