"""Physical-plan regression guards for the scale-critical properties the
100 TB design depends on (EXPLAIN.md records them; these tests keep them
from silently decaying):

- dictionary lookups partition-prune to driver-computed buckets,
- WAND's block-metadata aggregation never reads the posting payload
  columns (parquet column pruning),
- result assembly runs a fixed number of jobs past the ranking, each a
  doc_id / term_id literal-filtered scan (no per-query shuffle or full
  scan of a stored table), and returns a local frame,
- a BM25 ranking reads only the blocks table and runs as one job (no
  docs scan, no broadcast),
- doc-id-only phrase decodes read only the doc-id stream of the blocks,
- the index-free proximity scan is shuffle-free,
- the blocks serving path is pure JVM (zero Python eval nodes).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from web_based_search_engine_spark.plans.query import QueryEngine


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _scanned_tables(plan: str) -> set[str]:
    """Stored table names behind the plan's parquet scans (each table is
    read from ``.../tables/<name>/v<N>``)."""
    return {
        line.split("/tables/")[1].split("/")[0]
        for line in plan.splitlines()
        if line.startswith("Location:") and "/tables/" in line
    }


def test_vocab_lookup_partition_prunes(spark, built_index):
    """lookup_terms' scan shape: the bucket predicate must reach the
    parquet source as a PartitionFilter (vocab is bucket-partitioned),
    and the term equality as a pushed data filter — the lookup touches
    |query buckets|/B of the dictionary."""
    from web_based_search_engine_spark.functions.xxhash import term_bucket

    qe = QueryEngine(spark, built_index["storage"])
    b = term_bucket("search", qe.num_term_buckets)
    probe = qe.vocab.where(F.col("bucket").isin([b])).where(
        F.col("term").isin(["search"])
    )
    plan = _plan(probe)
    assert "PartitionFilters" in plan
    # the bucket filter must be IN the partition-filter clause, not a
    # post-scan Filter over all partitions
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "bucket" in pf
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_wand_metadata_agg_skips_payload_columns(spark, built_index):
    """The per-term global-bound aggregation (wand.py bounds pass) reads
    only block METADATA; ReadSchema must exclude doc_ids/tfs/positions —
    at cluster scale those payload columns are ~all the bytes."""
    qe = QueryEngine(spark, built_index["storage"])
    agg = (
        qe.blocks.where(F.col("bucket").isin([0]) & F.col("term_id").isin([1, 2]))
        .groupBy("term_id")
        .agg(F.max("max_wtf").alias("gw"), F.min("min_len_d").alias("gl"))
    )
    plan = _plan(agg)
    rs = plan.split("ReadSchema:")[1].split("\n")[0]
    for payload in ("doc_ids", "title_tfs", "body_tfs", "title_pos", "body_pos"):
        assert payload not in rs, f"payload column {payload} read by metadata agg"
    assert "max_wtf" in rs and "min_len_d" in rs


# lookup jobs the assembly adds to a query: two rounds of two scans
ASSEMBLY_JOBS = 4


def test_assembly_is_literal_filtered_scans(spark, built_index, monkeypatch):
    """_assemble runs the ranking once and then only scans stored tables
    with the <=k doc ids (or their keyword term ids) pushed into the
    parquet reader: a fixed number of jobs past the ranking, no Exchange
    (shuffle or broadcast) in any lookup, and a local result frame.
    Joining the lazy top-k frame instead would re-run the ranking plan
    once per broadcast and, with AQE pinned off on the serving path, can
    plan a full shuffle of the forward index per query."""
    import uuid

    sc = spark.sparkContext
    qe = QueryEngine(spark, built_index["storage"])
    q = 'searching "engines retrieval"'
    qe.search(q, k=5).collect()  # warm the term and phrase caches

    def jobs(fn):
        group = f"plans-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ranking = jobs(lambda: qe.search(q, k=5, assemble=False).collect())
    assembled = jobs(lambda: qe.search(q, k=5).collect())
    assert assembled <= ranking + ASSEMBLY_JOBS, (ranking, assembled)

    scans: dict = {}
    orig = QueryEngine._collect_concurrently

    def spy(engine, frames):
        scans.update(frames)
        return orig(engine, frames)

    monkeypatch.setattr(QueryEngine, "_collect_concurrently", spy)
    out = qe.search(q, k=5)
    assert out.count() > 0
    assert set(scans) == {"top", "edges", "docs", "terms"}
    for name, key in (("top", "doc_id"), ("edges", "doc_id"),
                      ("docs", "doc_id"), ("terms", "term_id")):
        plan = _plan(scans[name])
        assert "Exchange" not in plan, f"{name} lookup shuffles or broadcasts"
        pushed = plan.split("PushedFilters:")[1].split("\n")[0]
        assert key in pushed, f"{name} scan: {key} not pushed ({pushed})"
    plan = _plan(out)
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan


def test_bm25_ranking_reads_blocks_only(spark, built_index):
    """A BM25 ranking reads only the blocks table: doc lengths ride in the
    blocks, so there is no docs scan and no broadcast join, and its collect
    is one job (the scan stage and the stage past the doc_id shuffle)."""
    import uuid

    sc = spark.sparkContext
    qe = QueryEngine(spark, built_index["storage"])
    for q in ("searching engines", "agreed happy flies posting scoring cats"):
        ranking = qe.search(q, k=5, assemble=False)
        plan = _plan(ranking)
        assert _scanned_tables(plan) == {"blocks"}, plan
        assert "BroadcastExchange" not in plan, plan
        group = f"plans-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            assert ranking.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1, jobs
        assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 2


def test_doc_id_decodes_read_only_doc_ids(spark, built_index):
    """The one-term phrase and the two-pass phrase's pass 1 keep doc ids
    (and block ids) only: their scans must read the ``doc_ids`` stream
    and no tf, length or position column."""
    from web_based_search_engine_spark.operators import blocks as B
    from web_based_search_engine_spark.operators.phrase import phrase_doc_ids

    qe = QueryEngine(spark, built_index["storage"])
    for df, want in (
        (phrase_doc_ids(qe.blocks, qe.vocab, ["search"]), {"term_id", "doc_ids"}),
        (B.decode_doc_ids(qe.blocks, with_block_ids=True),
         {"term_id", "block_id", "doc_ids"}),
    ):
        plan = _plan(df)
        rs = plan.split("ReadSchema: struct<")[1].split("\n")[0]
        assert {f.split(":")[0] for f in rs.rstrip(">").split(",")} == want, rs


def test_proximity_adhoc_is_shuffle_free(spark):
    """adhoc.proximity_adhoc claims one codegen scan — no Exchange may
    appear in its plan (the q48 batch path; a pure map stage at 100 TB)."""
    from web_based_search_engine_spark.operators.adhoc import proximity_adhoc

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha gamma beta")], "doc_id long, text string"
    )
    plan = _plan(proximity_adhoc(df, ["alpha", "beta"], 3))
    assert "Exchange" not in plan


def test_blocks_serving_path_is_pure_jvm(spark, built_index):
    """The serving claim behind round 4's latency win: term SCORING from
    the block index runs entirely in whole-stage codegen — no Python or
    Arrow eval node anywhere in the plan.  The phrase shape additionally
    decodes the delta-gap+varint POSITION columns (kept compressed by
    design — north-rule storage format) through one `mapInArrow` stage;
    that is the only non-JVM node allowed, and scoring still must not
    add any Python eval."""
    qe = QueryEngine(spark, built_index["storage"])
    plan = _plan(qe.search("searching engines", k=5, assemble=False))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "MapInArrow"):
        assert node not in plan, f"{node} in term-scoring serving plan"
    # formatted explain marks codegen'd operators with [codegen id : N]
    assert "codegen id" in plan

    phrase_plan = _plan(qe.search('posting "searching engines"', k=5, assemble=False))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in phrase_plan, f"{node} in phrase serving plan"
    # the phrase-candidate semi-join must broadcast the (small, counted)
    # candidate set — never shuffle the decoded posting stream against it
    assert "SortMergeJoin" not in phrase_plan


def test_cc_star_round_has_no_window(spark):
    """Star-contraction's per-node neighborhood min must be a
    map-side-combined aggregate (partial_min visible in the plan), never a
    Window.partitionBy — a window ships a hub node's whole adjacency to one
    task before reducing, the r4-verdict straggler (directive 1)."""
    from web_based_search_engine_spark.operators.dedup import (
        _large_star,
        _small_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "u long, v long"
    )
    for half_round in (_large_star(edges), _small_star(_large_star(edges))):
        plan = _plan(half_round)
        assert "Window" not in plan, "CC round plans a Window over the adjacency"
        assert "partial_min" in plan, "per-node min is not map-side combined"


def test_wand_prune_filters_push_down(spark, tmp_path):
    """r5: the pruned path's scale contract is that pruning reaches the
    SCANS — (a) the final block scan carries a pushable per-term
    max_wtf >= w* necessary condition (row groups of low-tf blocks are
    skipped by parquet stats, their payload bytes never read), and (b) the
    plan scans no docs table at all (doc lengths ride in the blocks, so
    there is no per-query docs scan).  The pushed condition is a strict
    weakening of the exact bound, so the result must stay bit-identical
    to exhaustive."""
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.operators import wand as W
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(
        spark, storage, IndexConfig(num_term_buckets=2, block_size=16, salt_buckets=2)
    ).build(fixtures.adversarial_wand_corpus(spark, 5000), resume=False)
    blocks = storage.read_table(spark, "blocks")
    docs = storage.read_table(spark, "docs")
    vocab = storage.read_table(spark, "vocab")
    st = storage.read_table(spark, "stats").collect()[0]

    stats: dict = {}
    pruned = W.wand_top_k(
        blocks, docs, vocab, ["zzhot", "zzrare"], st["n_docs"],
        st["avg_doc_len"], prune=True, k=10, stats=stats,
    )
    plan = _plan(pruned)
    # (a) the max_wtf necessary condition reached a parquet scan
    assert "GreaterThanOrEqual(max_wtf" in plan, plan
    # (b) no docs FileScan: the pruned BM25 plan reads the blocks alone
    assert "docs" not in _scanned_tables(plan), plan
    # pruning engaged and stayed lossless
    rows_p = pruned.collect()
    rows_f = W.wand_top_k(
        blocks, docs, vocab, ["zzhot", "zzrare"], st["n_docs"],
        st["avg_doc_len"], prune=False, k=10,
    ).collect()
    assert stats["decoded_blocks"] * 2 <= stats["candidate_blocks"], stats
    assert [(r["doc_id"], round(r["score"], 12)) for r in rows_p] == [
        (r["doc_id"], round(r["score"], 12)) for r in rows_f
    ]
