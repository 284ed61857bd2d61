"""Ported reference golden tests (InvertedIndexTest.java:39-116,
IndexerTest.java:44-71; FIXTURES.md F2): exact scores at 1e-10, keyword
frequency maps, all 9 phrase cases, end-to-end add-and-search.  The golden
corpus is built into a stored index and every check reads it the way a
served query does: scores through ``QueryEngine``, phrases over the
block index, keyword frequencies from the forward index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig, ScoringConfig
from web_based_search_engine_spark.operators.phrase import phrase_doc_ids
from web_based_search_engine_spark.plans.build import IndexBuilder
from web_based_search_engine_spark.plans.query import QueryEngine
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage


@pytest.fixture(scope="module")
def golden(spark, tmp_path_factory):
    prepared = fixtures.testdoc3_tokens_df(spark).withColumn(
        "sha256", F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    storage = ParquetIndexStorage(tmp_path_factory.mktemp("golden_idx"))
    IndexBuilder(spark, storage, IndexConfig(num_term_buckets=4)).build_from_prepared(prepared)
    qe = QueryEngine(spark, storage, ScoringConfig(scorer="reference"))
    key_by_id = {r["doc_id"]: r["path"] for r in qe.docs.select("doc_id", "path").collect()}
    return qe, key_by_id


def test_reference_scores_exact(spark, golden):
    qe, key_by_id = golden
    scored = qe.search_terms(fixtures.GOLDEN_QUERY_TERMS, assemble=False).collect()
    got = {key_by_id[r["doc_id"]]: r["score"] for r in scored}
    assert set(got) == set(fixtures.GOLDEN_SCORES)
    for doc, want in fixtures.GOLDEN_SCORES.items():
        assert got[doc] == pytest.approx(want, abs=1e-10), doc


def test_keyword_frequencies(spark, golden):
    qe, key_by_id = golden
    # doc1 {t01:2, t02:1, t03:1}, doc2 {t04:2, t05:1, t06:1}, doc3 all-1
    rows = (
        qe.forward.select("doc_id", F.explode("term_tfs").alias("e"))
        .select("doc_id", "e.term_id", "e.tf")
        .join(qe.vocab.select("term_id", "term"), "term_id")
        .collect()
    )
    freq: dict[str, dict[str, int]] = {}
    for r in rows:
        freq.setdefault(key_by_id[r["doc_id"]], {})[r["term"]] = r["tf"]
    assert freq["doc1"] == {"t01": 2, "t02": 1, "t03": 1}
    assert freq["doc2"] == {"t04": 2, "t05": 1, "t06": 1}
    assert freq["doc3"] == {t: 1 for t in ["t07", "t08", "t09", "t10", "t11", "t12"]}


def test_phrase_goldens(spark, golden):
    qe, key_by_id = golden

    def served(phrase):
        ranked = qe.search_terms(list(dict.fromkeys(phrase)), phrase, assemble=False)
        return {key_by_id[r["doc_id"]] for r in ranked.collect()}

    for phrase in fixtures.GOLDEN_PHRASES:
        got = {
            key_by_id[r["doc_id"]]
            for r in phrase_doc_ids(qe.blocks, qe.vocab, phrase).collect()
        }
        assert got == {"doc1"}, phrase
        assert served(phrase) == {"doc1"}, phrase
    # negatives: cross-doc, reversed, cross-field
    for phrase in [["t03", "t02"], ["t01", "t04"], ["t09", "t10"], ["t01", "t01", "t01"]]:
        got = phrase_doc_ids(qe.blocks, qe.vocab, phrase).collect()
        assert got == [], phrase
        assert served(phrase) == set(), phrase


def test_add_and_search_end_to_end(spark, tmp_path):
    """IndexerTest.addAndSearch port: one doc (title 'this is a test', body
    'hello world'), search by word / multiword / phrase pos+neg."""
    corpus = spark.createDataFrame(
        [("r/r", "this is a test", "c1", "txt", "hello world")], fixtures.CORPUS_SCHEMA
    )
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, IndexConfig(num_term_buckets=2)).build(corpus)
    qe = QueryEngine(spark, storage)
    # "this is a" are stopwords -> only "test" indexed from title
    assert qe.search("test", assemble=False).count() == 1
    assert qe.search("hello", assemble=False).count() == 1
    assert qe.search("test hello unknownword", assemble=False).count() == 1
    assert qe.search('"hello world"', assemble=False).count() == 1
    # reversed phrase -> empty (IndexerTest.java:68-70)
    assert qe.search('"world hello"', assemble=False).count() == 0
    # phrase across fields -> empty (within-field adjacency only)
    assert qe.search('"test hello"', assemble=False).count() == 0
