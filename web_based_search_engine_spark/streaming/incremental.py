"""Incremental (freshness-gated) index maintenance — partition-granular.

The reference's "incremental" crawl is a batch upsert: a doc is re-indexed
iff it is unseen or ``curLastModified > stored.lastModified`` — strictly
greater, equal timestamps are stale and skipped (Indexer.java:77-85,
Appendix C-W8).  There is no streaming in the reference (SURVEY §2.7), so
this module is batch MERGE semantics, not Structured Streaming.

``plan_freshness`` computes the fresh/stale split with an anti-join +
timestamp comparison (SURVEY #15).  ``incremental_update`` applies it with
the reference's remove-then-insert semantics (PostingIndex.removeDocument
then addDocument, PostingIndex.java:40-43,93-115) at PARTITION granularity.
Like the reference, whose re-index calls the same addDocument its crawl
uses, every table's new partitions come from the builder's own stage
functions (operators/postings.py, operators/blocks.py, operators/links.py),
so each index structure has one definition:

- ids are STABLE: an existing (repo, path) keeps its doc_id, an existing
  term keeps its term_id; new keys append above the stored maximum
  (operators/ids.assign_stable_ids) — one insert never shifts another id,
  exactly like the reference's never-reassigned ``size()+1`` scheme.
- term-keyed tables (postings, blocks, vocab) rewrite ONLY the term
  buckets touched by the changed docs' old or new terms; doc-keyed tables
  (corpus_tok, forward) rewrite only the dbuckets holding changed docs.
  Untouched partitions are carried into the new snapshot by hard links
  (catalog.write_table_partitions — the Iceberg overwritePartitions
  analog), i.e. byte-identical, never rewritten.
- blocks re-encode only for touched buckets: the stored skip bounds
  (max_wtf, min_len_d) are stats-free (operators/blocks.py), so global
  df/N/avgdl drift cannot invalidate untouched buckets.
- every table swap commits in ONE atomic manifest write (storage.batch());
  a crash mid-upsert leaves the previous snapshot fully consistent.  A
  crashed BUILD (corpus_tok committed, later tables missing) is finished by
  the builder's own checkpoint resume before the upsert, so it too keeps
  every stored doc and term id.

Cost model (documented honestly): work is proportional to the size of the
touched term buckets + changed dbuckets — the standard segment-rewrite
cost, NOT the corpus.  Two deliberate exceptions: (a) with a
reference-norms index (IndexConfig.reference_norms=True, the default)
``docs`` is recomputed corpus-wide because the reference cosine norm
``||d||`` depends on every term's global df and on N (the reference dodged
this by recomputing norms per query, SURVEY §4.1 anti-pattern) — docs is
the narrowest table (~0.1% of index bytes at scale); a BM25-only index
(reference_norms=False) has no doc_norm column and its docs stage is
partition-granular like every other table, leaving only the 1-row
narrow-scan ``stats`` aggregate corpus-wide; (b) ``links`` is
recomputed from the stored refs/module columns (a ref-sized join, no
re-tokenization).  The stale ``postings_raw`` intermediate is dropped from
the checkpoint so a later resume-build cannot consume it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..operators import blocks as B
from ..operators import links as L
from ..operators import postings as P
from ..operators.ids import assign_dense_ids, assign_stable_ids
from ..plans.build import STAGES, BuildReport, IndexBuilder, record_links_fanout
from ..sources.catalog import ParquetIndexStorage

# tables the partition-granular path maintains; all must exist to take it
_FULL_TABLES = (
    "corpus_tok", "postings", "vocab", "docs", "stats", "forward", "blocks",
)

UPSERT_KEY = ["repo", "path"]  # commit is a revision attribute: re-commit REPLACES


@dataclass
class FreshnessPlan:
    fresh: DataFrame      # rows of new_corpus to (re-)index
    stale: DataFrame      # rows skipped (unchanged / not newer)
    n_fresh: int
    n_stale: int
    deleted: DataFrame | None = None  # (repo, path) tombstones (full_snapshot)
    n_deleted: int = 0


def plan_freshness(
    new_corpus: DataFrame,
    stored_docs: DataFrame | None,
    mtime_col: str | None = None,
    full_snapshot: bool = False,
) -> FreshnessPlan:
    """Split ``new_corpus`` into fresh vs stale rows.

    Document identity is UPSERT_KEY = (repo, path) in BOTH modes — commit
    is a revision attribute (a re-commit REPLACES the doc, it never creates
    a second one), exactly like the reference's URL identity.  With
    ``mtime_col`` present in both frames: fresh iff unseen key or
    new.mtime > stored.mtime (strict — W8).  Otherwise: fresh iff unseen
    key or content sha256 changed (the code-corpus surrogate for
    Last-Modified; used as the fallback when the stored docs table predates
    the mtime column, e.g. the streaming ingest's file-source mtime, which
    orders revisions within a batch but is not persisted in ``docs``).

    The batch is first collapsed to ONE row per (repo, path) — newest wins
    (mtime desc when available, then commit desc as the deterministic
    tiebreak; lexicographic commit order is arbitrary for git hashes, which
    is why callers that have a real recency signal should pass it as
    ``mtime_col``).  A streaming micro-batch can legitimately deliver two
    revisions of the same file (maxFilesPerTrigger batching); without the
    collapse both rows would be "fresh", the stable-id join would fan out
    multiplicatively, and the doc would be double-counted in
    postings/df/norms.

    Deletes: with ``full_snapshot=True`` the batch is declared to be the
    COMPLETE current corpus, so every stored key absent from it is a
    TOMBSTONE — returned as ``plan.deleted`` (one (repo, path) row each)
    for the upsert to purge at the same partition granularity as
    replacements.  ``full_snapshot=False`` (default, and the only safe
    setting for streaming micro-batches, which are inherently partial
    views) never deletes — matching the reference, whose removeDocument
    is only ever the remove-then-insert of re-indexing
    (PostingIndex.java:93-115)."""
    have_new_mtime = bool(mtime_col) and mtime_col in new_corpus.columns
    w = Window.partitionBy(*UPSERT_KEY).orderBy(
        *([F.col(mtime_col).desc()] if have_new_mtime else []),
        F.col("commit").desc(),
    )
    new_corpus = (
        new_corpus.withColumn("_rev_rn", F.row_number().over(w))
        .where(F.col("_rev_rn") == 1)
        .drop("_rev_rn")
    )
    empty_keys = new_corpus.select(*UPSERT_KEY).limit(0)
    if stored_docs is None:
        n = new_corpus.count()
        return FreshnessPlan(new_corpus, new_corpus.limit(0), n, 0, empty_keys, 0)
    if full_snapshot:
        deleted = (
            stored_docs.select(*UPSERT_KEY)
            .distinct()
            .join(new_corpus.select(*UPSERT_KEY), UPSERT_KEY, "left_anti")
        )
        n_deleted = deleted.count()
    else:
        deleted, n_deleted = empty_keys, 0

    if have_new_mtime and mtime_col in stored_docs.columns:
        old = stored_docs.groupBy(*UPSERT_KEY).agg(
            F.max(mtime_col).alias("_old_mtime")
        )
        joined = new_corpus.join(old, UPSERT_KEY, "left")
        fresh_cond = F.col("_old_mtime").isNull() | (
            F.col(mtime_col) > F.col("_old_mtime")
        )
        fresh = joined.where(fresh_cond).drop("_old_mtime")
        stale = joined.where(~fresh_cond).drop("_old_mtime")
    else:
        old = stored_docs.select(*UPSERT_KEY, F.col("sha256").alias("_old_sha"))
        joined = new_corpus.withColumn(
            "_new_sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
        ).join(old, UPSERT_KEY, "left")
        fresh_cond = F.col("_old_sha").isNull() | (F.col("_new_sha") != F.col("_old_sha"))
        fresh = joined.where(fresh_cond).drop("_old_sha", "_new_sha")
        stale = joined.where(~fresh_cond).drop("_old_sha", "_new_sha")
    return FreshnessPlan(fresh, stale, fresh.count(), stale.count(), deleted, n_deleted)


def incremental_update(
    spark: SparkSession,
    storage: ParquetIndexStorage,
    new_corpus: DataFrame,
    cfg: IndexConfig | None = None,
    mtime_col: str | None = None,
    full_snapshot: bool = False,
) -> BuildReport:
    """Upsert ``new_corpus`` into the stored index with freshness gating.

    A crashed build (corpus_tok committed, a later table missing) is first
    finished by ``IndexBuilder.build(resume=True)``: it skips every
    committed stage, so no stored doc or term id moves (a bucket layout its
    tables do not use is refused).  Then nothing fresh
    -> true no-op (no stage touched, W8 skip); otherwise a complete stored
    index takes the partition-granular path, and an index with no
    corpus_tok (first build) gets the full builder.

    ``full_snapshot=True`` additionally DELETES every stored doc whose
    (repo, path) is absent from ``new_corpus`` (plan_freshness tombstones)
    — purged inside the same partition-granular transaction as the upsert:
    only the term buckets and dbuckets the deleted docs touch are
    rewritten, everything else hard-links into the new snapshot."""
    cfg = _stored_layout(spark, storage, cfg or IndexConfig())
    if storage.stage_done("corpus_tok") and not _complete(storage):
        if not storage.has_table("stats"):
            _require_layout(spark, storage, cfg)
        IndexBuilder(spark, storage, cfg).build(new_corpus, resume=True)
    stored = (
        storage.read_table(spark, "docs") if storage.has_table("docs") else None
    )
    plan = plan_freshness(new_corpus, stored, mtime_col, full_snapshot)

    m = storage.manifest()
    m["metrics"].append(
        {"stage": "incremental_plan", "fresh": plan.n_fresh, "stale": plan.n_stale,
         "deleted": plan.n_deleted}
    )
    storage._commit_manifest(m)

    if plan.n_fresh == 0 and plan.n_deleted == 0:
        # nothing newer: every stage skipped without invoking the builder
        done = [s for s in STAGES if storage.stage_done(s)]
        return BuildReport(
            stages_run=[], stages_skipped=done, seconds=0.0,
            n_docs=int(storage.table_meta("docs")["rows"]) if stored is not None else 0,
        )

    if not _complete(storage):
        return IndexBuilder(spark, storage, cfg).build(plan.fresh, resume=False)
    return _partition_granular_upsert(spark, storage, plan, cfg)


def _complete(storage: ParquetIndexStorage) -> bool:
    return all(storage.has_table(t) for t in _FULL_TABLES)


def _require_layout(
    spark: SparkSession, storage: ParquetIndexStorage, cfg: IndexConfig
) -> None:
    """A build records its bucket layout only in ``stats``: before resuming
    a crashed build that never wrote it, refuse a ``cfg`` whose modulus its
    committed tables do not use (bucket pruning would miss stored rows)."""
    tok = storage.read_table(spark, "corpus_tok")
    bad = tok.where(F.col("dbucket") != P.doc_bucket_col(cfg.num_doc_buckets))
    if storage.has_table("vocab"):
        vocab = storage.read_table(spark, "vocab")
        bad = bad.select("doc_id").union(
            vocab.where(F.col("bucket") != P.term_bucket_col(cfg.num_term_buckets))
            .select("term_id")
        )
    if bad.limit(1).count():
        raise ValueError(
            "the crashed build's tables use another bucket layout than this "
            "IndexConfig; resume it with the IndexConfig it was built with"
        )


def _stored_layout(
    spark: SparkSession, storage: ParquetIndexStorage, cfg: IndexConfig
) -> IndexConfig:
    """Pin physical-layout constants to the STORED index, not the caller's
    cfg: an upsert called with a different ``num_term_buckets`` (e.g. the
    default-cfg streaming entry point over an index built with another
    bucket count) would otherwise write new vocab/postings rows into
    buckets computed with the wrong modulus — driver-side bucket pruning
    then silently misses pre-existing terms."""
    if not storage.has_table("stats"):
        return cfg
    st = storage.read_table(spark, "stats").collect()[0].asDict()
    from dataclasses import replace

    out = cfg
    if st.get("num_term_buckets") and int(st["num_term_buckets"]) != cfg.num_term_buckets:
        out = replace(out, num_term_buckets=int(st["num_term_buckets"]))
    if st.get("num_doc_buckets") and int(st["num_doc_buckets"]) != out.num_doc_buckets:
        out = replace(out, num_doc_buckets=int(st["num_doc_buckets"]))
    return out


def _partition_granular_upsert(
    spark: SparkSession,
    storage: ParquetIndexStorage,
    plan: FreshnessPlan,
    cfg: IndexConfig,
) -> BuildReport:
    t0 = time.time()
    # ETL path: pin AQE on (a serving QueryEngine may have pinned it off)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # refused before any partition is written: re-encoding only the touched
    # buckets of an index without len_ds would leave a mixed-schema table
    B.require_doc_lengths(storage.read_table(spark, "blocks"))
    docs_old = storage.read_table(spark, "docs")
    vocab_old = storage.read_table(spark, "vocab")

    # stored maxima for stable-id appends: tiny 1-row agg over narrow scans
    maxima = (
        docs_old.agg(F.max("doc_id").alias("d")).crossJoin(
            vocab_old.agg(F.max("term_id").alias("t"))
        )
    ).collect()[0]
    max_doc_id, max_term_id = int(maxima["d"]), int(maxima["t"])

    # ---- fresh docs: tokenize + STABLE doc ids ---------------------------
    fresh_prepared = P.prepare_corpus(plan.fresh, cfg.analysis)
    key_ids = docs_old.select(*UPSERT_KEY, "doc_id")
    ids = assign_stable_ids(
        fresh_prepared.select(*UPSERT_KEY), UPSERT_KEY, "doc_id",
        existing=key_ids, max_existing_id=max_doc_id,
        num_buckets=cfg.num_term_buckets * 32,
    )
    fresh_tok = P.with_doc_ids(fresh_prepared, cfg, ids=ids).persist()

    changed = {
        r["dbucket"] for r in fresh_tok.select("dbucket").distinct().collect()
    }
    # a replaced doc keeps its id, so removing its old rows is removing its
    # id.  Tombstones (full_snapshot): deleted docs' rows must leave every
    # table the same way — fold their ids into the remove set and their
    # dbuckets into the rewrite set; partitions no deleted or fresh doc
    # touches stay hard-linked
    remove_ids = fresh_tok.select("doc_id")
    if plan.n_deleted:
        del_docs = (
            docs_old.join(plan.deleted, UPSERT_KEY, "left_semi")
            .select("doc_id", "dbucket")
            .persist()
        )
        changed |= {r["dbucket"] for r in del_docs.select("dbucket").distinct().collect()}
        remove_ids = remove_ids.unionByName(del_docs.select("doc_id"))
    changed_dbuckets = sorted(changed)

    def rewrite(name: str, fresh: DataFrame, key: str, parts: list[int]) -> None:
        # the stored rows of the changed partitions, minus the removed
        # docs, plus the fresh rows; every other partition hard-links
        old = storage.read_table(spark, name)
        keep = old.where(F.col(key).isin(parts)).join(remove_ids, "doc_id", "left_anti")
        storage.write_table_partitions(
            keep.select(*old.columns).unionByName(fresh.select(*old.columns)),
            name, [key], parts, stage=name,
        )

    with storage.batch():
        rewrite("corpus_tok", fresh_tok, "dbucket", changed_dbuckets)

        # ---- touched terms: old terms of replaced docs + fresh terms -----
        fresh_raw = P.positional_postings(fresh_tok)
        # removed docs' old forward rows sit in the changed dbuckets — a
        # partition-pruned lookup of their old term_ids (forward is not
        # rewritten yet, so this reads the stored snapshot)
        old_tids = (
            storage.read_table(spark, "forward")
            .where(F.col("dbucket").isin(changed_dbuckets))
            .join(remove_ids, "doc_id", "left_semi")
            .select(F.explode("term_tfs").alias("e"))
            .select(F.col("e.term_id").alias("term_id"))
            .distinct()
        )

        # term-id mapping for fresh postings: stable for known terms, dense
        # append above max_term_id for brand-new terms
        vocab_ids = vocab_old.select("term", "term_id", "bucket")
        new_terms = fresh_raw.select("term").distinct().join(
            vocab_ids, "term", "left_anti"
        )
        new_term_ids = assign_dense_ids(
            new_terms, ["term"], "term_id", num_buckets=cfg.num_term_buckets * 4,
            base=max_term_id,
        ).withColumn("bucket", P.term_bucket_col(cfg.num_term_buckets))
        term_map = vocab_ids.unionByName(new_term_ids).persist()
        fresh_post = P.encode_postings(fresh_raw, term_map, cfg)

        touched = (
            old_tids.join(term_map.select("term_id", "bucket"), "term_id")
            .select("bucket")
            .unionByName(fresh_post.select("bucket"))
            .distinct()
            .collect()
        )
        touched_buckets = sorted(r["bucket"] for r in touched)

        # ---- postings, then vocab and blocks of the touched buckets ------
        rewrite("postings", fresh_post, "bucket", touched_buckets)
        post_new = storage.read_table(spark, "postings")  # new snapshot
        tb = post_new.where(F.col("bucket").isin(touched_buckets))
        vocab_part = P.term_stats(tb, ["term_id", "bucket"], cfg.salt_buckets).join(
            term_map.select("term_id", "term"), "term_id"
        )
        storage.write_table_partitions(
            vocab_part.select("term_id", "term", "df", "cf", "max_tf", "bucket"),
            "vocab", ["bucket"], touched_buckets, stage="vocab",
        )

        rewrite(
            "forward", P.forward_frame(fresh_post, cfg.num_doc_buckets),
            "dbucket", changed_dbuckets,
        )

        # re-encode ONLY touched buckets: the stored skip bounds are
        # stats-free, so untouched buckets stay valid
        tok_new = storage.read_table(spark, "corpus_tok")
        storage.write_table_partitions(
            B.encode_blocks(tb, P.doc_lengths(tok_new), cfg),
            "blocks", ["bucket"], touched_buckets, stage="blocks",
            write_options=B.BLOCKS_WRITE_OPTIONS,
        )

        # ---- docs + stats ------------------------------------------------
        # The docs schema itself decides the path: with a stored doc_norm
        # column (reference_norms build) the cosine norm depends on EVERY
        # term's global df + N, so docs refreshes corpus-wide (documented
        # exception (a) above).  A norm-free index (BM25-only,
        # IndexConfig.reference_norms=False) has no global-statistics
        # column in docs — unchanged docs' rows cannot change (stable ids,
        # tf_max is per-doc), so the stage is partition-granular like
        # every other table: only the fresh docs' rows are built.
        if "doc_norm" in docs_old.columns:
            n_docs = int(storage.table_meta("corpus_tok")["rows"])
            docs_new = P.build_docs(
                tok_new, post_new, storage.read_table(spark, "vocab"), n_docs
            )
            storage.write_table(docs_new, "docs", partition_by=["dbucket"], stage="docs")
            P.validate_docs_norms(storage.read_table(spark, "docs"))
        else:
            rewrite(
                "docs", P.build_docs(fresh_tok, fresh_post, with_norms=False),
                "dbucket", changed_dbuckets,
            )
        # stats stays a corpus-wide 1-row aggregate over NARROW columns
        # (exact N/avgdl need every doc's lengths; this is a column-pruned
        # scan, not a postings-sized recompute)
        storage.write_table(
            P.build_stats(storage.read_table(spark, "docs"), cfg), "stats", stage="stats"
        )

        # ---- links: ref-sized recompute ----------------------------------
        storage.write_table(
            L.links_from_corpus_tok(tok_new, cfg.links_max_targets_per_module),
            "links", stage="links",
        )
        record_links_fanout(spark, storage, cfg)

        # postings_raw is now stale: drop its checkpoint marker so a future
        # resume-build recomputes it from corpus_tok instead of consuming
        # pre-upsert data
        storage.invalidate_from(["postings_raw"])

    fresh_tok.unpersist()
    term_map.unpersist()
    if plan.n_deleted:
        del_docs.unpersist()
    run = [s for s in STAGES if s != "postings_raw"]
    return BuildReport(
        stages_run=run,
        stages_skipped=[],
        seconds=time.time() - t0,
        n_docs=int(storage.table_meta("docs")["rows"]),
    )
