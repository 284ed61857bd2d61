"""Freshness-gated incremental upsert (Indexer.isFreshDocument semantics,
Appendix C-W8: strictly-newer wins, equal is stale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.plans.build import IndexBuilder
from web_based_search_engine_spark.plans.query import QueryEngine
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage
from web_based_search_engine_spark.streaming.incremental import (
    incremental_update,
    plan_freshness,
)

CFG = IndexConfig(num_term_buckets=2, block_size=8)


def _mini_corpus(spark, rows):
    return spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA)


def test_plan_freshness_sha_semantics(spark, tmp_path):
    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta"),
        ("r/a", "f2.py", "c1", "py", "gamma delta"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    stored = storage.read_table(spark, "docs")

    new_rows = [
        ("r/a", "f1.py", "c2", "py", "alpha beta CHANGED"),  # content changed -> fresh
        ("r/a", "f2.py", "c1", "py", "gamma delta"),          # unchanged -> stale
        ("r/a", "f3.py", "c1", "py", "epsilon"),              # new -> fresh
    ]
    plan = plan_freshness(_mini_corpus(spark, new_rows), stored)
    fresh = {r["path"] for r in plan.fresh.select("path").collect()}
    assert fresh == {"f1.py", "f3.py"}
    assert plan.n_stale == 1


def test_plan_freshness_mtime_strictly_greater(spark, tmp_path):
    rows = [("r/a", "f1.py", "c1", "py", "alpha")]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    stored = storage.read_table(spark, "docs").withColumn("mtime", F.lit(100))

    new = _mini_corpus(spark, rows)
    # equal mtime -> stale (W8: isAfter, not >=)
    plan_eq = plan_freshness(new.withColumn("mtime", F.lit(100)), stored, "mtime")
    assert plan_eq.n_fresh == 0 and plan_eq.n_stale == 1
    plan_gt = plan_freshness(new.withColumn("mtime", F.lit(101)), stored, "mtime")
    assert plan_gt.n_fresh == 1


def test_plan_freshness_mtime_mode_collapses_on_upsert_key(spark, tmp_path):
    """Identity is (repo, path) in BOTH modes: two revisions (distinct
    commits) of one file in a single mtime-mode batch collapse to ONE
    fresh row, ordered by mtime — NOT lexicographic commit (the larger
    mtime wins even with the lexicographically smaller commit hash).
    Without the collapse both rows reach the UPSERT_KEY stable-id join
    and fan out corpus_tok/postings multiplicatively."""
    rows = [("r/a", "f1.py", "c1", "py", "alpha")]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    stored = storage.read_table(spark, "docs").withColumn("mtime", F.lit(100))

    batch = _mini_corpus(
        spark,
        [
            ("r/a", "f1.py", "zzz", "py", "older revision"),
            ("r/a", "f1.py", "aaa", "py", "newer revision"),
        ],
    ).withColumn(
        "mtime",
        F.when(F.col("commit") == "zzz", F.lit(150)).otherwise(F.lit(200)),
    )
    plan = plan_freshness(batch, stored, "mtime")
    assert plan.n_fresh == 1
    row = plan.fresh.collect()[0]
    assert row["commit"] == "aaa" and row["content"] == "newer revision"


def test_plan_freshness_mtime_missing_from_stored_falls_back_to_sha(
    spark, tmp_path
):
    """mtime_col given but the stored docs table predates it (e.g. the
    streaming ingest's file-source mtime): comparison falls back to
    content sha — unchanged content is stale, changed content is fresh."""
    rows = [("r/a", "f1.py", "c1", "py", "alpha")]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    stored = storage.read_table(spark, "docs")  # no mtime column

    unchanged = _mini_corpus(spark, rows).withColumn("mtime", F.lit(999))
    plan = plan_freshness(unchanged, stored, "mtime")
    assert plan.n_fresh == 0 and plan.n_stale == 1

    changed = _mini_corpus(
        spark, [("r/a", "f1.py", "c2", "py", "alpha CHANGED")]
    ).withColumn("mtime", F.lit(999))
    plan2 = plan_freshness(changed, stored, "mtime")
    assert plan2.n_fresh == 1 and plan2.n_stale == 0


def _hash_dir(p):
    import hashlib
    from pathlib import Path

    h = hashlib.sha256()
    for f in sorted(Path(p).rglob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def test_upsert_partition_granular(spark, tmp_path):
    """VERDICT r1 #3 Done-criteria: after an upsert, (a) term buckets not
    touched by the changed docs' terms are BYTE-IDENTICAL (hard-linked,
    never rewritten) across snapshot versions, (b) existing docs keep their
    doc_id (stable ids), (c) the upserted index answers queries with the
    same scores as a from-scratch build of the merged corpus."""
    import os

    # 16 buckets vs ~10 distinct changed-doc terms: several term buckets
    # are untouched by construction (term-string hash spreads them)
    cfg = IndexConfig(num_term_buckets=16, block_size=8)
    # group-A docs (bulk, untouched) use a disjoint vocabulary from the
    # changed docs, so several term buckets stay untouched
    rows = [
        ("r/a", f"a{i:03d}.py", "c1", "py",
         f"alpha{i % 7} bravo{i % 5} charlie{i % 3} delta echo")
        for i in range(40)
    ]
    rows += [
        ("r/b", "chg0.py", "c1", "py", "zulu yankee xray"),
        ("r/b", "chg1.py", "c1", "py", "zulu victor whiskey"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, cfg).build(_mini_corpus(spark, rows))
    docs_v1 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    v1_postings_path = storage.table_meta("postings")["path"]
    v1_blocks_path = storage.table_meta("blocks")["path"]

    # upsert: modify the two r/b docs, add one new doc (group-B vocab only)
    new_rows = list(rows[:40]) + [
        ("r/b", "chg0.py", "c2", "py", "zulu yankee xray UPDATED"),
        ("r/b", "chg1.py", "c2", "py", "zulu victor november"),
        ("r/b", "new0.py", "c1", "py", "zulu sierra tango"),
    ]
    rep = incremental_update(spark, storage, _mini_corpus(spark, new_rows), cfg)
    assert rep.stages_run

    # (a) untouched buckets hard-linked byte-identical
    for name, v1_path in (("postings", v1_postings_path), ("blocks", v1_blocks_path)):
        meta = storage.table_meta(name)
        assert meta["reused_partitions"] >= 1, name
        rewritten = set(meta["rewritten_partitions"])
        for sub in sorted(os.listdir(meta["path"])):
            if not sub.startswith("bucket="):
                continue
            if sub.split("=")[1] in rewritten:
                continue
            old_sub = os.path.join(v1_path, sub)
            assert os.path.isdir(old_sub), (name, sub)
            assert _hash_dir(old_sub) == _hash_dir(os.path.join(meta["path"], sub))

    # (b) stable ids: every pre-existing (repo, path) keeps its doc_id
    docs_v2 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    for k, did in docs_v1.items():
        assert docs_v2[k] == did, k
    assert len(docs_v2) == len(docs_v1) + 1
    assert docs_v2[("r/b", "new0.py")] == max(docs_v1.values()) + 1

    # (c) upserted index == fresh build of the merged corpus, compared by
    # natural key (ids may differ for the inserted doc)
    fresh_storage = ParquetIndexStorage(tmp_path / "idx_fresh")
    IndexBuilder(spark, fresh_storage, cfg).build(_mini_corpus(spark, new_rows))
    qe_ups = QueryEngine(spark, storage)
    qe_new = QueryEngine(spark, fresh_storage)

    def by_key(qe, q):
        out = qe.search(q, assemble=False)
        docs = qe.storage.read_table(spark, "docs").select("doc_id", "repo", "path")
        return {
            (r["repo"], r["path"]): round(r["score"], 9)
            for r in out.join(docs, "doc_id").collect()
        }

    for q in ("zulu", "alpha0 charlie1", "november", "yankee xray", "echo"):
        assert by_key(qe_ups, q) == by_key(qe_new, q), q

    # vocab stats agree term-by-term with the fresh build
    vu = {r["term"]: (r["df"], r["cf"], r["max_tf"])
          for r in storage.read_table(spark, "vocab").collect()}
    vn = {r["term"]: (r["df"], r["cf"], r["max_tf"])
          for r in fresh_storage.read_table(spark, "vocab").collect()}
    assert vu == vn

    # docs parity incl. the reference cosine norm (the corpus-wide refresh
    # the upsert performs because ||d|| depends on global df and N)
    def docs_map(st):
        return {
            (r["repo"], r["path"]): (
                r["tf_max"], round(r["doc_norm"], 9), r["title_len"], r["body_len"],
                r["sha256"],
            )
            for r in st.read_table(spark, "docs").collect()
        }

    assert docs_map(storage) == docs_map(fresh_storage)


def test_incremental_update_end_to_end(spark, tmp_path):
    v1 = [
        ("r/a", "f1.py", "c1", "py", "searching engines alpha"),
        ("r/a", "f2.py", "c1", "py", "posting retrieval beta"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, v1))

    # no-op update: identical corpus -> all stages skipped
    rep = incremental_update(spark, storage, _mini_corpus(spark, v1), CFG)
    assert rep.stages_run == []

    # upsert: f2 changes content, f3 added
    v2 = [
        ("r/a", "f1.py", "c1", "py", "searching engines alpha"),
        ("r/a", "f2.py", "c2", "py", "posting retrieval gamma UPDATED"),
        ("r/a", "f3.py", "c1", "py", "brand new document zeta"),
    ]
    rep2 = incremental_update(spark, storage, _mini_corpus(spark, v2), CFG)
    assert rep2.stages_run  # rebuilt

    qe = QueryEngine(spark, storage)
    assert qe.search("zeta", assemble=False).count() == 1
    assert qe.search("gamma", assemble=False).count() == 1
    # old content of f2 is gone (delete-then-insert semantics)
    assert qe.search("beta", assemble=False).count() == 0
    # unchanged doc survives with identical sha
    docs = storage.read_table(spark, "docs")
    assert docs.count() == 3


def test_upsert_partial_index_preserves_stored_docs(spark, tmp_path):
    """Crash-shaped storage (docs/corpus_tok committed, blocks missing):
    an upsert must keep every stored doc, NOT index the delta alone
    (regression: the fallback once rebuilt a 1-doc index), and must keep
    every stored doc_id and term_id — including when a fresh key sorts
    before the stored ones (regression: rebuilding from merged tokens
    renumbered them)."""
    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta stored"),
        ("r/a", "f2.py", "c1", "py", "gamma delta stored"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    doc_ids_v1 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    term_ids_v1 = {
        r["term"]: r["term_id"] for r in storage.read_table(spark, "vocab").collect()
    }
    # simulate the crash: blocks never committed
    m = storage.manifest()
    m["tables"].pop("blocks")
    m["stages"].pop("blocks", None)
    storage._commit_manifest(m)
    assert not storage.has_table("blocks")

    incremental_update(
        spark, storage,
        _mini_corpus(spark, [
            ("r/a", "f3.py", "c1", "py", "epsilon fresh"),
            ("r/a", "f0.py", "c1", "py", "zeta fresh"),  # sorts before f1/f2
        ]),
        CFG,
    )
    docs = storage.read_table(spark, "docs")
    assert docs.count() == 4
    qe = QueryEngine(spark, storage)
    assert qe.search("alpha", assemble=False).count() == 1   # stored doc kept
    assert qe.search("epsilon", assemble=False).count() == 1  # delta applied
    assert qe.search("zeta", assemble=False).count() == 1
    assert storage.has_table("blocks")  # the resumed build restored the table
    doc_ids_v2 = {(r["repo"], r["path"]): r["doc_id"] for r in docs.collect()}
    for key, did in doc_ids_v1.items():
        assert doc_ids_v2[key] == did, key
    term_ids_v2 = {
        r["term"]: r["term_id"] for r in storage.read_table(spark, "vocab").collect()
    }
    for term, tid in term_ids_v1.items():
        assert term_ids_v2[term] == tid, term


def test_upsert_resume_before_stats_keeps_stored_layout(spark, tmp_path):
    """A build that crashed before ``stats`` has recorded no bucket layout:
    an upsert under another layout is refused before any table moves, and
    one under the build's own layout resumes it with every doc id kept."""
    import pytest

    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta stored"),
        ("r/a", "f2.py", "c1", "py", "gamma delta stored"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    ids_v1 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    m = storage.manifest()
    m["tables"].pop("stats")
    m["stages"].pop("stats", None)
    storage._commit_manifest(m)

    def versions():
        return {t: e["version"] for t, e in storage.manifest()["tables"].items()}

    before = versions()
    batch = _mini_corpus(spark, [("r/a", "f3.py", "c1", "py", "epsilon fresh")])
    with pytest.raises(ValueError, match="bucket layout"):
        incremental_update(spark, storage, batch, IndexConfig())  # 8 buckets
    assert versions() == before

    incremental_update(spark, storage, batch, CFG)
    qe = QueryEngine(spark, storage)
    assert qe.search("alpha", assemble=False).count() == 1
    assert qe.search("epsilon", assemble=False).count() == 1
    ids_v2 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    assert {k: ids_v2[k] for k in ids_v1} == ids_v1


def test_upsert_duplicate_key_batch_newest_wins(spark, tmp_path):
    """Two revisions of one (repo, path) in a single batch collapse to the
    newest (max commit) — no id fan-out, no double-counted postings."""
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(
        _mini_corpus(spark, [("r/a", "f1.py", "c1", "py", "alpha original")])
    )
    batch = _mini_corpus(spark, [
        ("r/a", "f1.py", "c2", "py", "alpha zzmid"),
        ("r/a", "f1.py", "c3", "py", "alpha zznewest"),
        ("r/a", "f2.py", "c1", "py", "beta other"),
    ])
    incremental_update(spark, storage, batch, CFG)
    docs = storage.read_table(spark, "docs")
    assert docs.count() == 2
    f1 = docs.where(F.col("path") == "f1.py").collect()
    assert len(f1) == 1 and f1[0]["commit"] == "c3"
    qe = QueryEngine(spark, storage)
    assert qe.search("zznewest", assemble=False).count() == 1
    assert qe.search("zzmid", assemble=False).count() == 0
    # postings not duplicated: alpha matches exactly one doc once
    assert qe.search("alpha", assemble=False).count() == 1


def test_upsert_layout_pinned_to_stored_index(spark, tmp_path):
    """An upsert called with a DIFFERENT num_term_buckets than the stored
    index must pin to the stored layout — otherwise new vocab rows land in
    wrong-modulus buckets and driver-side pruning goes blind."""
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, IndexConfig(num_term_buckets=2, block_size=8)).build(
        _mini_corpus(spark, [("r/a", "f1.py", "c1", "py", "alpha beta")])
    )
    # caller passes the DEFAULT cfg (8 term buckets) — must be ignored
    incremental_update(
        spark, storage,
        _mini_corpus(spark, [("r/a", "f2.py", "c1", "py", "gamma fresh")]),
        IndexConfig(),
    )
    st = storage.read_table(spark, "stats").collect()[0]
    assert int(st["num_term_buckets"]) == 2
    from web_based_search_engine_spark.functions.xxhash import term_bucket

    for r in storage.read_table(spark, "vocab").select("term", "bucket").collect():
        assert term_bucket(r["term"], 2) == r["bucket"], r["term"]
    qe = QueryEngine(spark, storage)
    assert qe.search("gamma", assemble=False).count() == 1
    assert qe.search("alpha", assemble=False).count() == 1


def test_upsert_norm_free_docs_is_partition_granular(spark, tmp_path):
    """VERDICT r2 #8: with IndexConfig(reference_norms=False) the docs
    table has no global-statistics column, so the upsert's docs stage is
    delta-sized — untouched dbuckets are hard-linked byte-identical — and
    BM25 results still equal a fresh norm-free build; the reference
    scorer raises instead of dividing by a missing norm."""
    import os

    import pytest as _pytest

    cfg = IndexConfig(
        num_term_buckets=4, num_doc_buckets=8, block_size=8,
        reference_norms=False,
    )
    rows = [
        ("r/a", f"a{i:03d}.py", "c1", "py",
         f"alpha{i % 7} bravo{i % 5} charlie{i % 3} delta echo")
        for i in range(40)
    ]
    rows += [
        ("r/b", "chg0.py", "c1", "py", "zulu yankee xray"),
        ("r/b", "chg1.py", "c1", "py", "zulu victor whiskey"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx_nf")
    IndexBuilder(spark, storage, cfg).build(_mini_corpus(spark, rows))
    assert "doc_norm" not in storage.read_table(spark, "docs").columns
    v1_docs_path = storage.table_meta("docs")["path"]

    new_rows = list(rows[:40]) + [
        ("r/b", "chg0.py", "c2", "py", "zulu yankee xray UPDATED"),
        ("r/b", "chg1.py", "c2", "py", "zulu victor november"),
    ]
    rep = incremental_update(spark, storage, _mini_corpus(spark, new_rows), cfg)
    assert rep.stages_run

    meta = storage.table_meta("docs")
    assert meta["reused_partitions"] >= 1  # the delta path ran
    rewritten = set(meta["rewritten_partitions"])
    n_checked = 0
    for sub in sorted(os.listdir(meta["path"])):
        if not sub.startswith("dbucket=") or sub.split("=")[1] in rewritten:
            continue
        assert _hash_dir(os.path.join(v1_docs_path, sub)) == _hash_dir(
            os.path.join(meta["path"], sub)
        ), sub
        n_checked += 1
    assert n_checked >= 1

    # BM25 equivalence against a fresh norm-free build of the merged corpus
    fresh = ParquetIndexStorage(tmp_path / "idx_nf_fresh")
    IndexBuilder(spark, fresh, cfg).build(_mini_corpus(spark, new_rows))

    def by_key(st, q):
        qe = QueryEngine(spark, st)
        out = qe.search(q, assemble=False)
        docs = st.read_table(spark, "docs").select("doc_id", "repo", "path")
        return {
            (r["repo"], r["path"]): round(r["score"], 9)
            for r in out.join(docs, "doc_id").collect()
        }

    for q in ("zulu", "november", "yankee xray", "echo"):
        assert by_key(storage, q) == by_key(fresh, q), q

    # reference scorer refuses a norm-free index with a clear error
    from web_based_search_engine_spark.config import ScoringConfig

    qr = QueryEngine(spark, storage, ScoringConfig(scorer="reference"))
    with _pytest.raises(RuntimeError, match="reference_norms"):
        qr.search("zulu", assemble=False).collect()


def test_full_snapshot_tombstone_deletes(spark, tmp_path):
    """Directive r4-6: with full_snapshot=True, stored keys absent from the
    batch are DELETED — (a) delete-then-query returns no hits, (b) term
    buckets untouched by the deleted docs stay hard-linked byte-identical,
    (c) the purged index answers queries with the same scores as a fresh
    build of the surviving corpus, and (d) without full_snapshot absence
    never deletes (streaming micro-batches are partial views)."""
    import os

    cfg = IndexConfig(num_term_buckets=16, block_size=8)
    # bulk group-A docs use a vocabulary disjoint from the doomed r/b docs,
    # so several term buckets are untouched by the delete
    rows = [
        ("r/a", f"a{i:03d}.py", "c1", "py",
         f"alpha{i % 7} bravo{i % 5} charlie{i % 3} delta echo")
        for i in range(40)
    ]
    doomed = [
        ("r/b", "del0.py", "c1", "py", "zulu yankee xray"),
        ("r/b", "del1.py", "c1", "py", "zulu victor whiskey"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, cfg).build(_mini_corpus(spark, rows + doomed))
    docs_v1 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    v1_postings_path = storage.table_meta("postings")["path"]
    v1_blocks_path = storage.table_meta("blocks")["path"]

    # (d) default mode: the same partial batch deletes NOTHING (no-op)
    rep0 = incremental_update(spark, storage, _mini_corpus(spark, rows), cfg)
    assert rep0.stages_run == []
    assert storage.read_table(spark, "docs").count() == 42

    # full snapshot without the r/b docs: pure delete, nothing fresh
    rep = incremental_update(
        spark, storage, _mini_corpus(spark, rows), cfg, full_snapshot=True
    )
    assert rep.stages_run

    # (a) deleted content is unfindable
    qe = QueryEngine(spark, storage)
    assert qe.search("zulu", assemble=False).count() == 0
    assert qe.search("yankee xray", assemble=False).count() == 0
    docs_v2 = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in storage.read_table(spark, "docs").collect()
    }
    assert len(docs_v2) == 40 and ("r/b", "del0.py") not in docs_v2
    # surviving docs keep their ids
    for k, did in docs_v2.items():
        assert docs_v1[k] == did, k
    # deleted-only terms left the vocab
    vocab_terms = {r["term"] for r in storage.read_table(spark, "vocab").collect()}
    assert "zulu" not in vocab_terms and "echo" in vocab_terms

    # (b) untouched term buckets hard-linked byte-identical
    for name, v1_path in (("postings", v1_postings_path), ("blocks", v1_blocks_path)):
        meta = storage.table_meta(name)
        assert meta["reused_partitions"] >= 1, name
        rewritten = set(meta["rewritten_partitions"])
        for sub in sorted(os.listdir(meta["path"])):
            if not sub.startswith("bucket=") or sub.split("=")[1] in rewritten:
                continue
            old_sub = os.path.join(v1_path, sub)
            assert os.path.isdir(old_sub), (name, sub)
            assert _hash_dir(old_sub) == _hash_dir(os.path.join(meta["path"], sub))

    # (c) purged index == fresh build of the surviving corpus
    fresh_storage = ParquetIndexStorage(tmp_path / "idx_fresh")
    IndexBuilder(spark, fresh_storage, cfg).build(_mini_corpus(spark, rows))

    def by_key(st, q):
        qe = QueryEngine(spark, st)
        out = qe.search(q, assemble=False)
        docs = st.read_table(spark, "docs").select("doc_id", "repo", "path")
        return {
            (r["repo"], r["path"]): round(r["score"], 9)
            for r in out.join(docs, "doc_id").collect()
        }

    for q in ("echo", "alpha0 charlie1", "delta"):
        assert by_key(storage, q) == by_key(fresh_storage, q), q
    vu = {r["term"]: (r["df"], r["cf"], r["max_tf"])
          for r in storage.read_table(spark, "vocab").collect()}
    vn = {r["term"]: (r["df"], r["cf"], r["max_tf"])
          for r in fresh_storage.read_table(spark, "vocab").collect()}
    assert vu == vn


def test_full_snapshot_delete_with_simultaneous_upsert(spark, tmp_path):
    """Deletes and upserts in ONE full-snapshot batch: a doc changes, a doc
    disappears, a doc appears — one atomic transaction, all three visible
    after."""
    v1 = [
        ("r/a", "keep.py", "c1", "py", "searching engines alpha"),
        ("r/a", "edit.py", "c1", "py", "posting retrieval beta"),
        ("r/a", "gone.py", "c1", "py", "obsolete gamma content"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, v1))

    v2 = [
        ("r/a", "keep.py", "c1", "py", "searching engines alpha"),
        ("r/a", "edit.py", "c2", "py", "posting retrieval REVISED delta"),
        ("r/a", "new.py", "c1", "py", "fresh epsilon arrival"),
    ]
    rep = incremental_update(
        spark, storage, _mini_corpus(spark, v2), CFG, full_snapshot=True
    )
    assert rep.stages_run
    docs = {
        (r["repo"], r["path"]) for r in storage.read_table(spark, "docs").collect()
    }
    assert docs == {("r/a", "keep.py"), ("r/a", "edit.py"), ("r/a", "new.py")}
    qe = QueryEngine(spark, storage)
    assert qe.search("gamma", assemble=False).count() == 0
    assert qe.search("obsolete", assemble=False).count() == 0
    assert qe.search("revised", assemble=False).count() == 1
    assert qe.search("epsilon", assemble=False).count() == 1
    assert qe.search("beta", assemble=False).count() == 0  # edit removed it


def test_upsert_keeps_block_doc_lengths(spark, tmp_path):
    """A full-snapshot upsert that replaces one doc (with a different
    length) and deletes another re-encodes every bucket holding their
    postings: the stored ``len_ds`` still match ``docs``, and BM25 scores
    equal a fresh build's."""
    from conftest import assert_block_doc_lengths

    v1 = [
        ("r/a", "keep.py", "c1", "py", "searching engines alpha"),
        ("r/a", "edit.py", "c1", "py", "posting retrieval beta"),
        ("r/a", "gone.py", "c1", "py", "obsolete gamma content searching"),
    ]
    v2 = [
        ("r/a", "keep.py", "c1", "py", "searching engines alpha"),
        ("r/a", "edit.py", "c2", "py", "posting retrieval beta beta searching engines"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, v1))
    incremental_update(spark, storage, _mini_corpus(spark, v2), CFG, full_snapshot=True)
    assert assert_block_doc_lengths(spark, storage) > 0

    fresh = ParquetIndexStorage(tmp_path / "fresh")
    IndexBuilder(spark, fresh, CFG).build(_mini_corpus(spark, v2))

    def by_path(st):
        docs = st.read_table(spark, "docs").select("doc_id", "path")
        out = QueryEngine(spark, st).search("searching engines beta", assemble=False)
        return {r["path"]: round(r["score"], 9) for r in out.join(docs, "doc_id").collect()}

    assert by_path(storage) == by_path(fresh)


def test_index_without_stored_doc_lengths_is_refused(spark, tmp_path):
    """An index whose blocks lack ``len_ds`` (written before doc lengths
    were stored in the blocks) is refused by the engine, and by an upsert
    before it writes any partition: re-encoding only the touched buckets
    would leave a blocks table of two schemas."""
    import pytest

    v1 = [
        ("r/a", "f1.py", "c1", "py", "searching engines alpha"),
        ("r/a", "f2.py", "c1", "py", "posting retrieval beta"),
    ]
    v2 = [v1[0], ("r/a", "f2.py", "c2", "py", "posting retrieval gamma")]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, v1))
    storage.write_table(
        storage.read_table(spark, "blocks").drop("len_ds"), "blocks",
        partition_by=["bucket"],
    )

    def versions():
        return {t: e["version"] for t, e in storage.manifest()["tables"].items()}

    before = versions()
    with pytest.raises(RuntimeError, match="rebuild the index"):
        QueryEngine(spark, storage)
    with pytest.raises(RuntimeError, match="rebuild the index"):
        incremental_update(spark, storage, _mini_corpus(spark, v2), CFG)
    assert versions() == before


def test_plan_freshness_tombstones(spark):
    """plan_freshness unit: full_snapshot marks absent stored keys deleted;
    default mode never does."""
    stored = spark.createDataFrame(
        [("r/a", "f1.py", "s1"), ("r/a", "f2.py", "s2")],
        "repo string, path string, sha256 string",
    )
    batch = _mini_corpus(spark, [("r/a", "f1.py", "c9", "py", "anything")])
    p_default = plan_freshness(batch, stored)
    assert p_default.n_deleted == 0 and p_default.deleted.count() == 0
    p_full = plan_freshness(batch, stored, full_snapshot=True)
    assert p_full.n_deleted == 1
    assert [(r["repo"], r["path"]) for r in p_full.deleted.collect()] == [
        ("r/a", "f2.py")
    ]


def test_engine_refresh_cuts_over_to_new_snapshot(spark, tmp_path):
    """Serving cutover (plans/query.py refresh): an engine is pinned to
    the snapshot it loaded; after an upsert commits, refresh() — not a
    process restart — drops the snapshot-derived caches and serves the
    new snapshot.  Pairs with storage.vacuum(keep_last=2): the old
    snapshot an in-flight query resolved stays on disk."""
    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta alpha"),
        ("r/a", "f2.py", "c1", "py", "gamma delta"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    qe = QueryEngine(spark, storage)

    assert qe.search("epsilon", assemble=False).count() == 0
    before = {r["path"] for r in qe.search("alpha").collect()}
    assert before == {"f1.py"}
    assert qe._term_cache  # pinned-snapshot caches populated

    incremental_update(
        spark, storage,
        _mini_corpus(spark, [("r/a", "f3.py", "c1", "py", "epsilon alpha")]),
        CFG,
    )
    # still pinned: the upsert is invisible until refresh
    assert qe.search("epsilon", assemble=False).count() == 0

    qe.refresh()
    assert not qe._term_cache and not qe._bounds_cache
    got = {r["path"] for r in qe.search("epsilon").collect()}
    assert got == {"f3.py"}
    after = {r["path"] for r in qe.search("alpha").collect()}
    assert after == {"f1.py", "f3.py"}
    # stats rebind too (n_docs reflects the new corpus)
    assert qe.n_docs == 3

    # vacuum with the default retention, then query again: the refreshed
    # engine reads the current snapshot, untouched by expiry
    storage.vacuum(keep_last=2)
    assert {r["path"] for r in qe.search("alpha").collect()} == {"f1.py", "f3.py"}


def test_vacuum_retention_keeps_pinned_snapshot_servable(spark, tmp_path):
    """The vacuum/refresh retention contract end-to-end: an engine pinned
    to snapshot N must keep serving AFTER an upsert commits N+1 and
    vacuum(keep_last=2) runs — N is inside the retention window.  After
    refresh, vacuum(keep_last=1) may expire N and the engine still works
    because it now reads N+1."""
    rows = [
        ("r/a", "f1.py", "c1", "py", "alpha beta"),
        ("r/a", "f2.py", "c1", "py", "gamma delta"),
    ]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, CFG).build(_mini_corpus(spark, rows))
    qe = QueryEngine(spark, storage)
    assert {r["path"] for r in qe.search("alpha").collect()} == {"f1.py"}

    incremental_update(
        spark, storage,
        _mini_corpus(spark, [("r/a", "f3.py", "c1", "py", "epsilon alpha")]),
        CFG,
    )
    storage.vacuum(keep_last=2)
    # pinned engine: old snapshot still on disk, searches unaffected,
    # including shapes that touch every table (assembly: docs/forward/links)
    assert {r["path"] for r in qe.search("alpha").collect()} == {"f1.py"}
    assert qe.search("epsilon", assemble=False).count() == 0

    qe.refresh()
    storage.vacuum(keep_last=1)  # now N may go; the engine reads N+1
    assert {r["path"] for r in qe.search("alpha").collect()} == {"f1.py", "f3.py"}
