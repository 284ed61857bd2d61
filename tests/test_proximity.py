"""Proximity retrieval (minimal cover window) tests: brute-force
reference over random occurrence sets + end-to-end over a built index."""

from __future__ import annotations


def _min_cover_reference(occ: list[tuple[int, int]], k: int) -> int:
    """Brute-force minimal cover span over (pos, tid) occurrences."""
    best = 1 << 30
    occ = sorted(occ)
    for i in range(len(occ)):
        seen = {}
        for j in range(i, len(occ)):
            seen[occ[j][1]] = True
            if len(seen) == k:
                best = min(best, occ[j][0] - occ[i][0] + 1)
                break
    return best


def test_proximity_windows_matches_bruteforce(spark):
    import itertools
    import random

    from web_based_search_engine_spark.operators import phrase as PH
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = []
    for doc in range(12):
        occ = [(p, rng.randrange(3)) for p in rng.sample(range(40), 12)]
        rows.append((doc, occ))
    k = 3
    df = spark.createDataFrame(
        [(d, [{"pos": p, "tid": t} for p, t in occ]) for d, occ in rows],
        "doc_id long, merged array<struct<pos:int,tid:int>>",
    )
    got = {
        r["doc_id"]: r["mw"]
        for r in df.select(
            "doc_id", PH.min_cover_expr(F.col("merged"), k).alias("mw")
        ).collect()
    }
    for d, occ in rows:
        tids = {t for _, t in occ}
        want = _min_cover_reference(occ, k) if len(tids) == k else (1 << 30)
        assert got[d] == want, (d, occ)


def test_proximity_windows_end_to_end(spark, tmp_path):
    from web_based_search_engine_spark import config
    from web_based_search_engine_spark.operators import phrase as PH
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.plans.query import QueryEngine
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    # doc 1: terms 6 tokens apart in body ('qq' filler — NOT a stopword,
    # unlike single letters); doc 2: adjacent; doc 3: only one term
    rows = [
        ("r/a", "p1", "c", "t", "alpha qq qq qq qq qq beta"),
        ("r/a", "p2", "c", "t", "alpha beta"),
        ("r/a", "p3", "c", "t", "alpha only here"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    storage = ParquetIndexStorage(str(tmp_path / "idx"))
    IndexBuilder(spark, storage, config.IndexConfig(num_term_buckets=2)).build(corpus)
    qe = QueryEngine(spark, storage)
    out = {
        r["doc_id"]: r["min_window"]
        for r in PH.proximity_windows(
            qe.blocks, qe.vocab, ["alpha", "beta"], window=10
        ).collect()
    }
    # doc ids are dense over (repo,path,commit) order: p1->1, p2->2, p3->3
    assert out == {1: 7, 2: 2}
    tight = PH.proximity_windows(qe.blocks, qe.vocab, ["alpha", "beta"], window=3)
    assert {r["doc_id"] for r in tight.collect()} == {2}
    # unseen term -> empty; duplicate query terms behave as the set
    assert PH.proximity_windows(qe.blocks, qe.vocab, ["alpha", "zzz"], 10).count() == 0
    dup = PH.proximity_windows(qe.blocks, qe.vocab, ["alpha", "alpha", "beta"], 10)
    assert {r["doc_id"] for r in dup.collect()} == {1, 2}


def test_near_search_is_a_score_preserving_filter(spark, tmp_path, force_prune):
    from web_based_search_engine_spark import config, fixtures
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.plans.query import QueryEngine
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    storage = ParquetIndexStorage(str(tmp_path / "idx"))
    corpus = fixtures.corpus_df(spark, 120)
    IndexBuilder(spark, storage, config.IndexConfig(num_term_buckets=2)).build(corpus)
    qe = QueryEngine(spark, storage)
    full = {
        r["doc_id"]: round(r["score"], 9)
        for r in qe.search("foo_bar hello-world", k=1000, assemble=False).collect()
    }
    wide = {
        r["doc_id"]: round(r["score"], 9)
        for r in qe.near_search(["foo_bar", "hello-world"], 40, k=1000, assemble=False).collect()
    }
    tight = {
        r["doc_id"]: round(r["score"], 9)
        for r in qe.near_search(["foo_bar", "hello-world"], 3, k=1000, assemble=False).collect()
    }
    # proximity filters, never rescores; tightening shrinks monotonically
    assert set(wide) <= set(full) and set(tight) <= set(wide)
    assert all(full[d] == s for d, s in wide.items())
    assert len(wide) >= 1  # fixture corpus has co-occurring terms
    # forced WAND pruning agrees exactly
    force_prune()
    qc = QueryEngine(spark, storage)
    wide_c = {
        r["doc_id"]: round(r["score"], 9)
        for r in qc.near_search(["foo_bar", "hello-world"], 40, k=1000, assemble=False).collect()
    }
    assert wide_c == wide


def test_near_search_window_zero_and_k_zero_are_empty(spark, tmp_path):
    """Falsy-zero regression guards (ADVICE r2): window=0 is a vacuously
    empty proximity constraint, k=0 asks for zero results — neither means
    'use the default'."""
    from web_based_search_engine_spark import config, fixtures
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.plans.query import QueryEngine
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    storage = ParquetIndexStorage(str(tmp_path / "idx0"))
    IndexBuilder(
        spark, storage, config.IndexConfig(num_term_buckets=2)
    ).build(fixtures.corpus_df(spark, 60))
    qe = QueryEngine(spark, storage)
    assert qe.near_search(["foo_bar", "hello-world"], 0, assemble=False).count() == 0
    assert qe.search("foo_bar", k=0, assemble=False).count() == 0


def test_phrase_two_pass_equals_single_pass(spark, built_index, monkeypatch):
    """The two-pass blocks-mode phrase plan (doc-id intersect, then
    positions only for surviving blocks) must return exactly the
    single-pass doc set — forced on by dropping the df crossover to 0,
    including the repeated-term and no-survivor edge cases."""
    from web_based_search_engine_spark.operators import phrase as PH
    from web_based_search_engine_spark.plans.query import QueryEngine

    storage = built_index["storage"]
    qe = QueryEngine(spark, storage)
    blocks = qe.blocks
    vocab = qe.vocab

    cases = [
        ["search", "engin"],          # the F4 q09 phrase (stemmed)
        ["engin", "retriev"],
        ["foo_bar", "foo_bar"],       # repeated-term adjacency
        ["retriev", "engin"],         # reversed (few/no matches)
        ["string_help", "agre"],      # cross-field -> no match
        ["search", "engin", "retriev"],
    ]
    for terms in cases:
        rows = qe._lookup_cached(terms)
        if len(rows) < len(set(terms)):
            continue
        single = {
            r["doc_id"]
            for r in PH.phrase_doc_ids(blocks, vocab, terms, term_rows=rows).collect()
        }
        monkeypatch.setattr(PH, "TWO_PASS_MIN_POSTINGS", 0)
        monkeypatch.setattr(PH, "TWO_PASS_ABS_POSTINGS", 0)
        two = {
            r["doc_id"]
            for r in PH.phrase_doc_ids(blocks, vocab, terms, term_rows=rows).collect()
        }
        monkeypatch.undo()
        assert two == single, terms


def test_phrase_and_near_result_cache(spark, built_index):
    """The engine's LRU filter-set cache returns identical doc sets on
    repeat queries, keeps phrase and near keys distinct, and evicts +
    unpersists beyond the cap."""
    from web_based_search_engine_spark.plans.query import QueryEngine

    qe = QueryEngine(spark, built_index["storage"])
    q = 'posting "searching engines" retrieval'
    first = sorted((r["doc_id"], round(r["score"], 9))
                   for r in qe.search(q, assemble=False).collect())
    assert len(qe._phrase_cache) == 1
    second = sorted((r["doc_id"], round(r["score"], 9))
                    for r in qe.search(q, assemble=False).collect())
    assert first == second
    assert len(qe._phrase_cache) == 1  # hit, not a second entry
    # near uses the same cache under a distinct key family
    n1 = {r["doc_id"] for r in qe.near_search(
        ["foo_bar", "hello-world"], 10, assemble=False).collect()}
    n2 = {r["doc_id"] for r in qe.near_search(
        ["foo_bar", "hello-world"], 10, assemble=False).collect()}
    assert n1 == n2 and len(qe._phrase_cache) == 2
    # eviction: shrink the cap and add one more entry -> oldest evicted
    qe._phrase_cache_cap = 2
    qe.search('"engines retrieval"', assemble=False).collect()
    assert len(qe._phrase_cache) == 2
    assert ("p", "search", "engin") not in qe._phrase_cache


def test_proximity_two_pass_equals_single_pass(spark, built_index, monkeypatch):
    """Forced two-pass proximity (shared survivor prune with phrase) must
    return identical (doc_id, min_window) sets to the single-pass plan."""
    from web_based_search_engine_spark.operators import phrase as PH
    from web_based_search_engine_spark.plans.query import QueryEngine

    qe = QueryEngine(spark, built_index["storage"])
    cases = [(["foo_bar", "hello-world"], 12), (["search", "engin"], 6),
             (["search", "engin", "retriev"], 25)]
    for terms, window in cases:
        rows = qe._lookup_cached(terms)
        if len(rows) < len(set(terms)):
            continue
        single = {
            (r["doc_id"], r["min_window"])
            for r in PH.proximity_windows(qe.blocks, qe.vocab, terms, window,
                                          term_rows=rows).collect()
        }
        monkeypatch.setattr(PH, "TWO_PASS_MIN_POSTINGS", 0)
        monkeypatch.setattr(PH, "TWO_PASS_ABS_POSTINGS", 0)
        two = {
            (r["doc_id"], r["min_window"])
            for r in PH.proximity_windows(qe.blocks, qe.vocab, terms, window,
                                          term_rows=rows).collect()
        }
        monkeypatch.undo()
        assert two == single, terms


def test_phrase_and_near_together_raise(spark, built_index):
    """A query filters by a phrase or by a proximity window, never both:
    no caller composes the two, so search_terms refuses the pair before
    running anything."""
    import pytest

    from web_based_search_engine_spark.plans.query import QueryEngine

    qe = QueryEngine(spark, built_index["storage"])
    with pytest.raises(ValueError, match="not both"):
        qe.search_terms(["search", "engin"], ["search", "engin"], near=5)
    with pytest.raises(ValueError, match="not both"):
        qe.search_terms(["search", "engin"], ["search", "engin"], near=0)
    assert not qe._phrase_cache


def test_k_zero_with_forced_wand_prune(spark, built_index):
    """Round-3 review finding: k=0 must return 0 rows on the PRUNE path
    too (previously the seed pass's `kth[-1]` would IndexError)."""
    from web_based_search_engine_spark.config import ScoringConfig
    from web_based_search_engine_spark.operators import wand as W
    from web_based_search_engine_spark.plans.query import QueryEngine

    qe = QueryEngine(spark, built_index["storage"])
    out = W.wand_top_k(
        qe.blocks, qe.docs, qe.vocab, ["search", "engin"],
        qe.n_docs, qe.avg_doc_len, ScoringConfig(scorer="bm25"),
        prune=True, k=0,
    )
    assert out.count() == 0


def test_proximity_adhoc_matches_bruteforce(spark):
    """Index-free proximity (adhoc.proximity_adhoc, the q48 shape): the
    single-scan transform+filter+fold plan must agree with a brute-force
    Python minimal-cover over the same RAW tokenization, including
    missing-term docs, duplicate query terms, and the window cutoff."""
    import random
    import re

    from web_based_search_engine_spark.config import AnalysisConfig
    from web_based_search_engine_spark.operators import adhoc as A

    rng = random.Random(13)
    vocab = ["alpha", "beta", "gamma", "filler", "pad", "x1"]
    rows = []
    for doc in range(40):
        n = rng.randrange(3, 30)
        rows.append((doc, " ".join(rng.choice(vocab) for _ in range(n))))
    # hand-planted edge docs
    rows += [
        (100, "alpha beta gamma"),                  # window 3 exactly
        (101, "alpha alpha beta"),                  # missing gamma
        (102, ""),                                  # empty text
        (103, "gamma pad pad pad alpha pad beta"),  # cover 7 spanning ends
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms, window = ["alpha", "beta", "gamma"], 8

    def brute(text):
        toks = [t for t in re.split(r"[^a-z0-9_-]+", text.lower()) if t]
        occ = [(p, terms.index(t)) for p, t in enumerate(toks) if t in terms]
        if {t for _, t in occ} != set(range(len(terms))):
            return None
        best = 1 << 30
        for i in range(len(occ)):
            seen = set()
            for j in range(i, len(occ)):
                seen.add(occ[j][1])
                if len(seen) == len(terms):
                    best = min(best, occ[j][0] - occ[i][0] + 1)
                    break
        return best if best <= window else None

    want = {d: w for d, t in rows if (w := brute(t)) is not None for d in [d]}
    got = {
        r["doc_id"]: r["min_window"]
        for r in A.proximity_adhoc(
            df, terms, window, "doc_id", "text", AnalysisConfig.raw()
        ).collect()
    }
    assert got == want
    assert got[100] == 3 and 101 not in got and 102 not in got and got[103] == 7
    # duplicate query terms behave as the set
    dup = {
        r["doc_id"]: r["min_window"]
        for r in A.proximity_adhoc(
            df, ["alpha", "alpha", "beta", "gamma"], window
        ).collect()
    }
    assert dup == got
    # empty terms -> empty frame with the contract schema
    e = A.proximity_adhoc(df, [], window)
    assert e.count() == 0 and e.columns == ["doc_id", "min_window"]
