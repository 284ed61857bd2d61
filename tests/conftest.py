from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from web_based_search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


N_SMALL = 300  # F1-small scale for oracle rank-identity tests


@pytest.fixture(scope="session")
def built_index(spark, tmp_path_factory):
    """F1-small corpus built once through the checkpointed builder; shared
    by query/rank/phrase/resume tests."""
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    root = tmp_path_factory.mktemp("idx")
    storage = ParquetIndexStorage(root)
    cfg = IndexConfig(num_term_buckets=4, block_size=16, salt_buckets=4)
    corpus = fixtures.corpus_df(spark, N_SMALL, num_partitions=4)
    report = IndexBuilder(spark, storage, cfg).build(corpus)
    return {"storage": storage, "cfg": cfg, "report": report, "n_docs": N_SMALL}


@pytest.fixture
def force_prune(monkeypatch):
    """Pin the WAND path every engine query takes for the rest of the
    test: ``force_prune()`` makes ``prune="auto"`` prune every bm25 query
    (an ``AUTO_PRUNE_POSTINGS`` of 0), ``force_prune(False)`` makes every
    query decode exhaustively (a cap no query reaches)."""
    from web_based_search_engine_spark.operators import wand as W

    def force(on: bool = True) -> None:
        monkeypatch.setattr(W, "AUTO_PRUNE_POSTINGS", 0 if on else 1 << 62)

    return force


@pytest.fixture(scope="session")
def oracle_index():
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.oracle import pandas_oracle as O

    return O.build_oracle_index(fixtures.corpus_rows(N_SMALL))


def assert_block_doc_lengths(spark, storage) -> int:
    """Every stored block's ``len_ds[i]`` is the ``title_len + body_len``
    that ``docs`` holds for ``doc_ids[i]``, and ``min_len_d`` is
    ``min(len_ds)``.  Returns the number of postings checked."""
    lens = {
        r["doc_id"]: r["title_len"] + r["body_len"]
        for r in storage.read_table(spark, "docs").collect()
    }
    checked = 0
    for r in storage.read_table(spark, "blocks").collect():
        assert len(r["len_ds"]) == len(r["doc_ids"]) == r["count"], r["term_id"]
        assert list(r["len_ds"]) == [lens[d] for d in r["doc_ids"]], r["term_id"]
        assert r["min_len_d"] == min(r["len_ds"]), r["term_id"]
        checked += len(r["len_ds"])
    return checked
