"""Ranked retrieval scoring: reference-conformance scorer + production BM25.

Reference formula (InvertedIndex.java:97-142, comment :98-111; Appendix A):

    idf_t        = log10(N / df_t)
    partial(d,t) = (0.9*titleTF + 0.1*bodyTF) * idf_t / tfMax_d
    raw(d)       = sum over query terms present in d        (disjunctive OR)
    score(d)     = raw(d) / ||d||          (cosine norm; no query-length norm,
                                            InvertedIndex.java:161-172)

Production scorer (BASELINE.json): BM25 with k1=1.2, b=0.75 over the same
0.9/0.1 field-weighted tf; Lucene-style non-negative idf
``ln(1 + (N - df + 0.5)/(df + 0.5))``; ``len_d = title_len + body_len``,
``avgdl`` from the stats table.  The repo's pandas oracle defines the
rank-identity ground truth for it.

Both scorers are pure Catalyst expressions over posting rows
(``score_postings``): term-at-a-time scatter (#25) == partition-pruned
posting scan, accumulate (#26) == groupBy(doc_id).sum (Tungsten hash agg).
For the reference scorer, normalize (#27) == join with precomputed per-doc
stats (the reference recomputed ||d|| per query per candidate — an
anti-pattern SURVEY §4.1 says not to reproduce).  BM25 joins nothing: its
per-doc input ``len_d`` rides on every decoded posting (blocks.py stores
it next to the tfs).  Its one caller, ``wand.wand_top_k``, feeds it the
query terms' postings decoded from the compressed block index —
exhaustively for the reference scorer, optionally WAND-pruned for BM25.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ScoringConfig


def lookup_terms(
    vocab: DataFrame, terms: list[str], num_buckets: int | None = None
) -> list[dict]:
    """Query-side dictionary lookup — read-only (fixes Appendix C-W2: the
    reference *inserted* unseen query terms).  Returns [{term_id, term, df,
    max_tf}] for terms present in the vocabulary; unseen terms vanish
    (df=0 -> no postings -> no contribution, InvertedIndex.java:115-117).

    With ``num_buckets`` (the stored layout constant from the stats table)
    and a bucket-partitioned vocab, the scan is partition-pruned to the
    query terms' buckets computed DRIVER-SIDE (functions/xxhash.py is
    bit-identical to F.xxhash64) — the lookup touches |query buckets|/B of
    the dictionary with no prior job."""
    if not terms:
        return []
    uniq = list(set(terms))
    sel = vocab
    if num_buckets and "bucket" in vocab.columns:
        from ..functions.xxhash import term_bucket

        buckets = sorted({term_bucket(t, num_buckets) for t in uniq})
        sel = sel.where(F.col("bucket").isin(buckets))
    rows = sel.where(F.col("term").isin(uniq)).collect()
    return [r.asDict() for r in rows]


def df_of_term(term_rows: list[dict]):
    """Catalyst column: the df of each row's ``term_id``, from a literal
    term_id -> df map over the query's resolved vocab rows.  Callers apply
    it to postings already filtered to those term ids, so every lookup
    hits.  A literal map, not a joined driver-built frame: the frame
    would be a LogicalRDD whose broadcast costs its own job per query."""
    return F.create_map(
        *[F.lit(int(x)).cast("long") for r in term_rows for x in (r["term_id"], r["df"])]
    )[F.col("term_id")]


def weighted_tf(title_weight: float = 0.9):
    return title_weight * F.col("title_tf") + (1.0 - title_weight) * F.col("body_tf")


def bm25_term_score(n_docs: int, avg_doc_len: float, cfg: ScoringConfig):
    """Per-posting BM25 contribution (expects df, title_tf, body_tf, len_d)."""
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf = weighted_tf(cfg.title_weight)
    denom = tf + cfg.k1 * (1.0 - cfg.b + cfg.b * F.col("len_d") / F.lit(float(avg_doc_len)))
    return idf * (cfg.k1 + 1.0) * tf / denom


def reference_term_score(n_docs: int, cfg: ScoringConfig):
    """Per-posting reference-formula contribution (expects df, title_tf,
    body_tf, tf_max)."""
    idf = F.log10(F.lit(float(n_docs)) / F.col("df"))
    return weighted_tf(cfg.title_weight) * idf / F.col("tf_max")


def score_postings(
    postings: DataFrame,
    docs: DataFrame,
    df_col: Column,
    n_docs: int,
    avg_doc_len: float,
    cfg: ScoringConfig,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) for posting rows (doc_id, term_id, title_tf,
    body_tf, len_d) already narrowed to the query terms, under either
    scorer.  ``docs`` is read only by the reference scorer (``tf_max``,
    ``doc_norm``); BM25 takes ``len_d`` from the posting rows.

    ``df_col``: the df of each row's term (see ``df_of_term``).
    ``candidates``: a doc-id set (phrase / proximity filter) semi-joined
    BEFORE scoring, so a later top-k is the top-k of the filtered ranking
    (phrase filters before limit, Indexer.java:270-276)."""
    if candidates is not None:
        postings = postings.join(candidates.select("doc_id"), "doc_id", "left_semi")
    cand = postings.withColumn("df", df_col)
    if cfg.scorer == "reference":
        if "doc_norm" not in docs.columns:
            raise RuntimeError(
                "reference scorer needs the precomputed doc_norm column; "
                "this index was built with IndexConfig(reference_norms=False) "
                "(BM25-only) — rebuild with reference_norms=True"
            )
        return (
            cand.join(docs.select("doc_id", "tf_max", "doc_norm"), "doc_id")
            .withColumn("_partial", reference_term_score(n_docs, cfg))
            .groupBy("doc_id", "doc_norm")
            .agg(F.sum("_partial").alias("_raw"))
            .select("doc_id", (F.col("_raw") / F.col("doc_norm")).alias("score"))
        )
    return (
        cand.withColumn("_partial", bm25_term_score(n_docs, avg_doc_len, cfg))
        .groupBy("doc_id")
        .agg(F.sum("_partial").alias("score"))
    )


def top_k(scored: DataFrame, k: int = 50) -> DataFrame:
    """Deterministic top-k: (score desc, doc_id asc) — the reference leaves
    tie order unspecified (HashMap iteration, App.java:35-38); the rebuild
    pins it (SURVEY #35).  Compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge, no global sort)."""
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
