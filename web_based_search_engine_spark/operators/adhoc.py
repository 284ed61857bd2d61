"""Ad-hoc (index-free) retrieval over an arbitrary document table.

Runs the same scoring semantics as the stored-index engine but computes
tf/df/len on the fly with pure Catalyst — used for one-shot scoring of
driver-provided tables (``documents``) and as the ANSI-SQL-expressible
surface for the DuckDB correctness oracle (FIXTURES.md F5: raw analysis,
no stemming).  Every aggregate is aliased so Spark and SQL column names
match the driver's value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import AnalysisConfig, ScoringConfig
from ..functions.analysis import analyze
from .scoring import bm25_term_score


def tokens_view(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: AnalysisConfig | None = None,
) -> DataFrame:
    """-> (id, pos, term): position-ordered analyzed tokens (0-based)."""
    cfg = cfg or AnalysisConfig.raw()
    return df.select(
        F.col(id_col), F.posexplode(analyze(text_col, cfg)).alias("pos", "term")
    )


def term_frequencies(df: DataFrame, id_col: str, text_col: str,
                     cfg: AnalysisConfig | None = None) -> DataFrame:
    """tf per (doc, term) (SURVEY #16 without positions)."""
    return (
        tokens_view(df, id_col, text_col, cfg)
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def document_frequencies(df: DataFrame, id_col: str, text_col: str,
                         cfg: AnalysisConfig | None = None) -> DataFrame:
    """df per term (SURVEY #20)."""
    return (
        tokens_view(df, id_col, text_col, cfg)
        .groupBy("term")
        .agg(F.countDistinct(id_col).cast("long").alias("df"))
    )


def document_lengths(df: DataFrame, id_col: str, text_col: str,
                     cfg: AnalysisConfig | None = None) -> DataFrame:
    cfg = cfg or AnalysisConfig.raw()
    return df.select(
        F.col(id_col), F.size(analyze(text_col, cfg)).cast("long").alias("len")
    )


def corpus_stats(df: DataFrame, id_col: str, text_col: str,
                 cfg: AnalysisConfig | None = None) -> DataFrame:
    return document_lengths(df, id_col, text_col, cfg).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("len").alias("avg_doc_len"),
    )


def bm25_adhoc_topk(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    title_col: str | None = None,
    body_col: str = "text",
    k: int = 50,
    cfg: ScoringConfig | None = None,
    analysis: AnalysisConfig | None = None,
) -> DataFrame:
    """Index-free BM25 top-k with the engine's 0.9/0.1 field weighting.

    Scores with operators/scoring.bm25_term_score; df counts docs with
    the term in title OR body; len_d = title_len + body_len; deterministic
    (score desc, id asc) tiebreak on the *rounded* score so ties are stable
    across summation orders (scores also returned rounded to 6 dp for
    oracle hash comparison).
    """
    cfg = cfg or ScoringConfig()
    analysis = analysis or AnalysisConfig.raw()
    terms = list(dict.fromkeys(terms))

    title = analyze(title_col, analysis) if title_col else F.array().cast("array<string>")
    body = analyze(body_col, analysis)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        title.alias("_title"),
        body.alias("_body"),
    )
    base = base.withColumn("len_d", F.size("_title") + F.size("_body"))

    stats = base.agg(
        F.count("*").alias("n"), F.avg("len_d").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 1.0)

    # |terms| is tiny: broadcast cross join, count occurrences per field
    # with a codegen'd array filter, keep only matching (doc, term) pairs
    per_term = (
        base.crossJoin(
            F.broadcast(
                df.sparkSession.createDataFrame([(t,) for t in terms], "term string")
            )
        )
        .withColumn("title_tf", F.size(F.filter("_title", lambda x: x == F.col("term"))))
        .withColumn("body_tf", F.size(F.filter("_body", lambda x: x == F.col("term"))))
        .where((F.col("title_tf") > 0) | (F.col("body_tf") > 0))
    )

    df_per_term = per_term.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        per_term.join(F.broadcast(df_per_term), "term")
        .withColumn("_partial", bm25_term_score(n_docs, avgdl, cfg))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_partial"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def proximity_adhoc(
    df: DataFrame,
    terms: list[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: AnalysisConfig | None = None,
) -> DataFrame:
    """Index-free proximity retrieval: docs whose ``text_col`` contains ALL
    ``terms`` within a ``window``-token span -> (doc_id, min_window).

    Same semantics as operators/phrase.proximity_windows restricted to one
    field, but computed in ONE narrow codegen scan: tag each matching token
    with (position, term-id) via an indexed ``transform`` + ``filter`` over
    the analyzed array, then run the exact minimal-cover fold
    (phrase.min_cover_expr) per row.  No explode, no group-by, no join —
    the per-term posting materialization the previous shape paid (k
    collect_list shuffles + a k-way equi-join) is gone, so at 100 TB this
    is a pure map stage whose cost is the tokenizer scan it shares with
    every other corpus statistic.

    ``array_contains`` pre-filters docs missing any term so the tag+fold
    work runs only on candidate docs (for selective terms that is a tiny
    fraction of the corpus, and the filter itself is codegen over the same
    array — no second tokenizer pass).
    """
    from .phrase import min_cover_expr

    cfg = cfg or AnalysisConfig.raw()
    uniq = list(dict.fromkeys(terms))
    k = len(uniq)
    spark = df.sparkSession
    if k == 0:
        return spark.createDataFrame([], "doc_id long, min_window long")

    d = df.select(F.col(id_col).alias("doc_id"), analyze(text_col, cfg).alias("_toks"))
    present = F.array_contains("_toks", uniq[0])
    for t in uniq[1:]:
        present = present & F.array_contains("_toks", t)
    d = d.where(present)

    def tid_of(x):
        e = F.lit(-1)
        for i in range(k - 1, -1, -1):
            e = F.when(x == uniq[i], F.lit(i)).otherwise(e)
        return e

    merged = F.filter(
        F.transform(
            "_toks",
            lambda x, i: F.struct(
                i.cast("int").alias("pos"), tid_of(x).cast("int").alias("tid")
            ),
        ),
        lambda s: s["tid"] >= 0,
    )
    out = d.select("doc_id", min_cover_expr(merged, k).alias("min_window"))
    return out.where(F.col("min_window") <= window).select(
        "doc_id", F.col("min_window").cast("long").alias("min_window")
    )
