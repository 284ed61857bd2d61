"""Positional phrase matching: the adjacency merge of PostingIndex.java:184-247.

Semantics preserved exactly (SURVEY #28-29, Appendix C-W5):
- adjacency is WITHIN one field only (title track and body track are merged
  separately and a doc survives if either is non-empty);
- repeated-term phrases need truly consecutive positions (golden ``[1,1]``);
- the fold over phrase terms is non-associative and stays a sequential left
  fold (PostingIndex.java:242) — fine, phrases are short;
- empty phrase -> empty doc set; any phrase term absent from the vocabulary
  -> empty doc set (an unseen term has no postings);
- phrase NEVER changes scores, it only filters (Indexer.java:270-276).

Both operators read the stored, compressed block index — the one
positional structure, like PostingIndex.java:184-220.  Each phrase term's
positions are decoded from its (bucket partition-pruned, term_id pushed)
blocks; each fold step is a doc_id equi-join between the carried state
and the next term's postings, with the position intersection computed by
``array_intersect(transform(prev, p -> p+1), cur)`` — all Catalyst, no
UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import blocks as B
from .scoring import lookup_terms
from .wand import _BROADCAST_SURVIVOR_CAP


def _term_blocks(blocks: DataFrame, term_row: dict) -> DataFrame:
    """One term's block rows, bucket partition-pruned + term_id pushed to
    the parquet reader."""
    return blocks.where(
        (F.col("bucket") == term_row["bucket"])
        & (F.col("term_id") == term_row["term_id"])
    )


def _adjacency_fold(
    phrase_terms: list[str], pos_by_term: dict[str, DataFrame]
) -> DataFrame:
    """Sequential left fold of the positional adjacency merge
    (PostingIndex.java:242 shape): state carries, per doc, the positions
    where the phrase-so-far ENDS, separately per field."""
    state = pos_by_term[phrase_terms[0]]
    for term in phrase_terms[1:]:
        cur = pos_by_term[term].withColumnsRenamed(
            {"title_pos": "_cur_title", "body_pos": "_cur_body"}
        )
        state = (
            state.join(cur, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform("title_pos", lambda p: p + 1), F.col("_cur_title")
                ).alias("title_pos"),
                F.array_intersect(
                    F.transform("body_pos", lambda p: p + 1), F.col("_cur_body")
                ).alias("body_pos"),
            )
            .where((F.size("title_pos") > 0) | (F.size("body_pos") > 0))
        )
    return state.select("doc_id")


# Crossover for the two-pass phrase plan (same spirit as wand_top_k's
# "auto" prune shortcut), decided driver-side from the vocab dfs with no
# extra job.  Two-pass pays 3 extra small jobs (pass-1 decode+intersect
# checkpoint, survivor count, per-term block prune), so it must SAVE more
# position-decode than that:
# - asymmetric phrases (rarest term df << total) — survivors are bounded
#   by the rare term, so the hot terms' position decode is almost entirely
#   skipped; this is the "hot phrase term" scale-killer VERDICT r2 flagged;
# - astronomically hot phrases (total df > ABS threshold) — position bytes
#   dominate the scan regardless of overlap, and pass 1 reads none of them.
# Two hot co-occurring terms at bench scale hit neither: measured 2.5 s
# two-pass vs 1.2 s single-pass at sf0.1 (most blocks hold a survivor, so
# the prune saves nothing and the extra jobs are pure overhead).
TWO_PASS_MIN_POSTINGS = 20_000      # below this, always single-pass
TWO_PASS_ASYMMETRY = 16             # rarest df < total/this -> two-pass
TWO_PASS_ABS_POSTINGS = 2_000_000   # above this, always two-pass


def phrase_doc_ids(
    blocks: DataFrame,
    vocab: DataFrame,
    phrase_terms: list[str],
    term_rows: list[dict] | None = None,
) -> DataFrame:
    """Docs of the block index ``blocks`` containing ``phrase_terms``
    adjacently -> DataFrame(doc_id).

    ``phrase_terms`` are analyzed terms in phrase order (stop/stem already
    applied by the query parser, Indexer.java:260-269).  ``term_rows``:
    pre-resolved vocab rows (QueryEngine dictionary cache).  A 1-term
    "phrase" is just term presence: doc ids only, positions never decoded
    at all."""
    pos_by_term = _positions_by_term(
        blocks, vocab, phrase_terms, term_rows, with_positions=len(phrase_terms) > 1
    )
    if pos_by_term is None:
        return blocks.sparkSession.createDataFrame([], "doc_id long")
    return _adjacency_fold(phrase_terms, pos_by_term)


def _positions_by_term(
    blocks: DataFrame,
    vocab: DataFrame,
    terms: list[str],
    term_rows: list[dict] | None = None,
    with_positions: bool = True,
) -> dict[str, DataFrame] | None:
    """The positional setup phrase and proximity share: resolve the
    distinct ``terms`` against the vocab, then decode each term's postings
    -> {term: DataFrame(doc_id, title_pos, body_pos)} in first-seen term
    order (doc ids without positions when ``with_positions`` is off,
    which only a 1-term phrase asks for).  None when the result is empty: no terms, a term
    absent from the vocabulary (an unseen term has no postings), or no
    doc holding every term.

    Both callers need EVERY term present in a doc, so for several terms
    the two-pass position decode applies (SURVEY §7 M3: "positions
    decoded only for survivors"; VERDICT r2 item 3) when the vocab dfs
    say it pays (the TWO_PASS_* crossover).  Pass 1 decodes DOC IDS ONLY per
    term (only the ``doc_ids`` stream is read — column pruning reaches
    the parquet scan) and intersects the per-term doc sets.  Pass 2
    re-decodes WITH positions only the blocks that contain a surviving
    doc — block provenance rides the pass-1 rows (``with_block_ids``), so
    the block prune is a plain equi-semi-join on block_id, not a range
    join.  For a selective phrase over a hot term this skips position
    decode for almost every block of the hot term's posting list, which
    is exactly the cost that dominated the single-pass plan.  Cheap
    queries (small total df) keep the single-pass plan: one job beats
    three tiny ones."""
    uniq = list(dict.fromkeys(terms))
    if not uniq:
        return None
    rows = term_rows if term_rows is not None else lookup_terms(vocab, uniq)
    by_term = {r["term"]: r for r in rows}
    if any(t not in by_term for t in uniq):
        return None
    dfs = [int(by_term[t]["df"]) for t in uniq]
    total_df = sum(dfs)
    if len(uniq) > 1 and total_df >= TWO_PASS_MIN_POSTINGS and (
        total_df >= TWO_PASS_ABS_POSTINGS or min(dfs) * TWO_PASS_ASYMMETRY < total_df
    ):
        return _pruned_positions_by_term(blocks, uniq, by_term)
    blk = {t: _term_blocks(blocks, by_term[t]) for t in uniq}
    if not with_positions:
        return {t: B.decode_doc_ids(blk[t]) for t in uniq}
    return {t: B.decode_blocks(blk[t], with_positions=True).select("doc_id", "title_pos", "body_pos")
            for t in uniq}


def _pruned_positions_by_term(
    blocks: DataFrame, uniq: list[str], by_term: dict[str, dict]
) -> dict[str, DataFrame] | None:
    """Two-pass survivor-pruned positional decode (see
    ``_positions_by_term``).  Returns None when the pass-1 intersection
    is empty, else {term: DataFrame(doc_id, title_pos, body_pos)} where
    positions were decoded ONLY for blocks holding a surviving doc."""
    # ---- pass 1: doc-id-only decode + intersection (rarest term first so
    # the join chain shrinks earliest; each term's block provenance rides
    # along as its own column)
    col_of = {t: f"_blk_{i}" for i, t in enumerate(uniq)}
    ids = None
    for t in sorted(uniq, key=lambda t: int(by_term[t]["df"])):
        d = B.decode_doc_ids(
            _term_blocks(blocks, by_term[t]), with_block_ids=True
        ).select("doc_id", F.col("block_id").alias(col_of[t]))
        ids = d if ids is None else ids.join(d, "doc_id")
    # survivors are small (docs containing EVERY query term); materialize
    # once — pass 2 reads them |uniq|+1 times
    survivors = ids.localCheckpoint(eager=True)
    n_surv = survivors.count()  # cheap: counts the checkpointed partitions
    if n_surv == 0:
        return None
    maybe_bcast = F.broadcast if n_surv <= _BROADCAST_SURVIVOR_CAP else (lambda df: df)

    # ---- pass 2: positions only for blocks holding a surviving doc
    pos_by_term = {}
    for t in uniq:
        kept = survivors.select(F.col(col_of[t]).alias("block_id")).distinct()
        blk = _term_blocks(blocks, by_term[t]).join(
            maybe_bcast(kept), "block_id", "left_semi"
        )
        pos_by_term[t] = (
            B.decode_blocks(blk, with_positions=True)
            .join(maybe_bcast(survivors.select("doc_id")), "doc_id", "left_semi")
            .select("doc_id", "title_pos", "body_pos")
        )
    return pos_by_term


_BIG_SPAN = 1 << 30


def tag_positions(pos_col, tid: int):
    """array<int> positions -> array<struct(pos,tid)> tagged with the query
    term's index, for the merged minimal-cover scan."""
    return F.transform(
        F.coalesce(pos_col, F.array().cast("array<int>")),
        lambda p: F.struct(p.cast("int").alias("pos"), F.lit(tid).alias("tid")),
    )


def min_cover_expr(merged_col, k: int):
    """Minimal cover window over a doc's merged (pos, tid) occurrence array
    -> int span (or 2^30 when some term never occurs).

    The classic minimal-window scan: walk occurrences in position order,
    keep the latest position of each of the k terms, and whenever all k
    have been seen take span = current pos - min(last seen) + 1.  One
    Catalyst ``aggregate`` fold per row — exact, no UDF, state is a fixed
    k+1-field struct (queries are short, so k is a small literal)."""
    acc0 = F.struct(
        *[F.lit(-1).alias(f"l{i}") for i in range(k)],
        F.lit(_BIG_SPAN).alias("best"),
    )

    def step(acc, x):
        lasts = [
            F.when(x["tid"] == i, x["pos"]).otherwise(acc[f"l{i}"])
            for i in range(k)
        ]
        mn = F.least(*lasts) if k > 1 else lasts[0]
        span = x["pos"] - mn + 1
        best = F.when((mn >= 0) & (span < acc["best"]), span).otherwise(acc["best"])
        return F.struct(
            *[l.alias(f"l{i}") for i, l in enumerate(lasts)], best.alias("best")
        )

    return F.aggregate(F.array_sort(merged_col), acc0, step, lambda a: a["best"])


def proximity_windows(
    blocks: DataFrame,
    vocab: DataFrame,
    terms: list[str],
    window: int,
    term_rows: list[dict] | None = None,
) -> DataFrame:
    """Proximity retrieval: docs where ALL ``terms`` co-occur within a
    ``window``-token span in ONE field -> (doc_id, min_window), smallest
    span first usable as a ranking signal.

    ``min_window`` = the exact minimal token span (last - first + 1)
    covering >= 1 occurrence of every distinct query term, minimized over
    the title and body tracks separately (within-field like phrase,
    Appendix C-W5).  Beyond-reference operator: the reference offers only
    adjacency (phrase); proximity is the standard relaxation ("terms near
    each other") search engines add next.

    Shape: k partition-pruned per-term block decodes of ``blocks`` ->
    k-way doc_id equi-join (docs missing any term drop out) -> per-doc
    merged position scan as ONE ``aggregate`` expression — no explode, no
    extra shuffle beyond the joins."""
    pos_by_term = _positions_by_term(blocks, vocab, terms, term_rows)
    if pos_by_term is None:
        return blocks.sparkSession.createDataFrame([], "doc_id long, min_window long")

    state = None
    for i, d in enumerate(pos_by_term.values()):
        d = d.select(
            "doc_id",
            F.col("title_pos").alias(f"_t{i}"),
            F.col("body_pos").alias(f"_b{i}"),
        )
        state = d if state is None else state.join(d, "doc_id")
    k = len(pos_by_term)
    title_merged = F.flatten(
        F.array(*[tag_positions(F.col(f"_t{i}"), i) for i in range(k)])
    )
    body_merged = F.flatten(
        F.array(*[tag_positions(F.col(f"_b{i}"), i) for i in range(k)])
    )
    out = state.select(
        "doc_id",
        F.least(
            min_cover_expr(title_merged, k), min_cover_expr(body_merged, k)
        ).alias("min_window"),
    )
    return out.where(F.col("min_window") <= window).select(
        "doc_id", F.col("min_window").cast("long").alias("min_window")
    )
