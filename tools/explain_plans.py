#!/usr/bin/env python
"""Dump the physical plans of the engine's load-bearing dataflows into
EXPLAIN.md, annotated with what to look for at 100 TB scale:

- parquet scans must show ReadSchema pruned to the consumed columns and
  PushedFilters / partition pruning for term-bucket lookups,
- the hot expressions must sit inside WholeStageCodegen spans,
- small-side joins must be BroadcastHashJoin, big aggregations
  partial->final HashAggregate (map-side combine).

Run: python tools/explain_plans.py  (writes EXPLAIN.md at the repository root)

The output is reproducible: run-specific tokens (expression, lambda
variable, plan and RDD ids, RDD call sites, temp-dir paths) are replaced
with stable placeholders, so two runs on the same code write the same
file.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
import tempfile
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"


# (pattern, placeholder) for every token that differs between two runs
# of the same plan: ids drawn from JVM-wide counters, and the temp dirs
# the indexes are built in
_RUN_TOKENS = [
    (re.compile(r"(?<=[\w)\]])#\d+L?"), "#n"),                 # expression ids
    (re.compile(r"(?<=lambda )([a-z])_\d+"), r"\1_n"),            # lambda variables
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=n]"),
    (re.compile(r"(\w*RDD)\[\d+\] at [^,]+"), r"\1[n]"),      # RDD ids, call sites
    (re.compile(re.escape(tempfile.gettempdir()) + r"/tmp\w+"), "<tmp>"),
]


def stable(plan: str) -> str:
    for pattern, placeholder in _RUN_TOKENS:
        plan = pattern.sub(placeholder, plan)
    return plan


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return stable(buf.getvalue())


def canonical_datacard_plan(build) -> str:
    """q40's plan with its two count-distinct columns in query order.

    Spark's distinct-aggregate rewrite orders the Expand's `_fp` and
    `_lang` groups by expression-id hashes, so the order flips from one
    planning to the next.  Each ``build()`` mints fresh ids: re-plan until
    `_fp` comes first."""
    for _ in range(64):
        plan = plan_of(build())
        expand = re.search(r"\(\d+\) Expand\n[^\n]*\n(Arguments: [^\n]*)", plan).group(1)
        if expand.index("_fp#") < expand.index("_lang#"):
            return plan
    raise RuntimeError("q40 never planned _fp before _lang")


def trim(plan: str, max_lines: int = 120) -> str:
    lines = plan.rstrip().splitlines()
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [f"... ({len(lines) - max_lines} more lines)"]
    return "\n".join(lines)


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from web_based_search_engine_spark.config import IndexConfig, ScoringConfig
    from web_based_search_engine_spark.fixtures import corpus_df
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.plans.query import QueryEngine
    from web_based_search_engine_spark.session import get_spark
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    spark = get_spark("explain", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, str]] = []

    # --- build dataflow: the builder's stage functions, composed without
    # materializing between them -------------------------------------------
    from web_based_search_engine_spark.operators import postings as P

    corpus = corpus_df(spark, 300, num_partitions=4)
    cfg = IndexConfig(num_term_buckets=4, block_size=16, salt_buckets=4)
    merged = P.positional_postings(P.with_doc_ids(P.prepare_corpus(corpus), cfg))
    vocab = P.build_vocab(merged, cfg)
    sections.append((
        "Build: positional postings + vocab join",
        "The one big shuffle is the (doc_id, term) HashAggregate; both its "
        "halves are partial->final (map-side combine bounds shuffle volume "
        "by distinct pairs, not token count).  The term-id join carries no "
        "positions on the vocab side.",
        plan_of(P.encode_postings(merged, vocab, cfg)),
    ))
    sections.append((
        "Build: salted df/cf aggregation (vocab)",
        "Two stacked HashAggregates: (term, salt) partial then term final — "
        "the explicit two-phase salted aggregation for hot terms; the dense "
        "term-id assignment adds one range shuffle over distinct terms only.",
        plan_of(vocab),
    ))

    # --- stored-index query path ------------------------------------------
    with tempfile.TemporaryDirectory() as wd:
        storage = ParquetIndexStorage(wd)
        IndexBuilder(spark, storage, cfg).build(corpus, resume=False)
        qe_blocks = QueryEngine(spark, storage, ScoringConfig(scorer="bm25"))
        sections.append((
            "Query (blocks): block-max WAND over compressed blocks",
            "Scan parquet of `blocks` with PartitionFilters on `bucket` "
            "(driver-side vocab lookup -> bucket IN-list: a B-bucket layout "
            "reads |query-term buckets|/B of the table) plus PushedFilters "
            "on term_id.  It is the plan's only scan: doc ids, tfs and doc "
            "lengths are plain list columns of the blocks, so the decode is "
            "a pure-JVM explode and BM25 joins nothing (no `docs` scan, no "
            "BroadcastExchange): the collect is one job, with NO "
            "Python/Arrow eval node (both guarded by tests/test_plans.py); "
            "position bytes stay unread.",
            plan_of(qe_blocks.search("merge_sort searching", assemble=False)),
        ))
        # the assembly's lookup scans, recorded as _assemble runs them
        scans: dict = {}
        collect_all = qe_blocks._collect_concurrently

        def record(frames):
            scans.update(frames)
            return collect_all(frames)

        qe_blocks._collect_concurrently = record
        try:
            assembled = qe_blocks.search('merge_sort "searching engines"', k=5)
        finally:
            del qe_blocks._collect_concurrently
        sections.append((
            "Query (blocks): assembled SearchResult lookups (top-k + "
            "metadata + keywords + links)",
            "No join plan: `_assemble` collects the ranking's <=k (doc_id, "
            "score) rows once, then runs two rounds of concurrent lookups, "
            "each a parquet scan with the ids pushed in as a literal IN-list "
            "(PushedFilters): forward top-5 keyword ids (`top`) and link "
            "edges (`edges`) keyed by the result ids, then the docs "
            "metadata of the results and their neighbors (`docs`) and the "
            "keyword terms (`terms`).  No Exchange anywhere — nothing is "
            "shuffled or broadcast, and the ranking plan runs once instead "
            "of once per broadcast.  The returned frame is a LocalTableScan "
            "(collecting it runs no job); tests/test_plans.py guards the "
            "shape.",
            "".join(f"-- {name} lookup\n{plan_of(df, 'simple')}\n"
                    for name, df in scans.items())
            + f"-- returned frame\n{plan_of(assembled, 'simple')}",
        ))
        # two-pass phrase: force the plan regardless of the df crossover so
        # the pass-2 shape (block semi-join prune -> positional decode ->
        # survivor semi-join -> adjacency fold) is on record
        from web_based_search_engine_spark.operators import phrase as PH

        old_min, old_abs = PH.TWO_PASS_MIN_POSTINGS, PH.TWO_PASS_ABS_POSTINGS
        PH.TWO_PASS_MIN_POSTINGS, PH.TWO_PASS_ABS_POSTINGS = 0, 0
        try:
            rows = qe_blocks._lookup_cached(["search", "engin"])
            two_pass_plan = plan_of(
                PH.phrase_doc_ids(qe_blocks.blocks, qe_blocks.vocab, ["search", "engin"],
                                  term_rows=rows)
            )
        finally:
            PH.TWO_PASS_MIN_POSTINGS, PH.TWO_PASS_ABS_POSTINGS = old_min, old_abs
        sections.append((
            "Query (blocks): two-pass phrase, pass-2 plan",
            "Pass 1 (already materialized as the localCheckpointed "
            "`survivors` scan here) decoded DOC IDS ONLY per phrase term "
            "and intersected them.  Pass 2, shown: per term the block rows "
            "are pruned by an equi-SEMI-join on block_id against the "
            "survivors' block provenance (broadcast — survivors are the "
            "docs containing the WHOLE phrase), positions are decoded only "
            "for those blocks (mapInArrow), rows semi-join survivors, then "
            "the adjacency fold joins on doc_id.  A hot term's position "
            "bytes are never read for blocks holding no survivor — the "
            "cost VERDICT r2 flagged as the dominant phrase term at scale.",
            two_pass_plan,
        ))
        sections.append((
            "Query (blocks): candidate block skipping ahead of decode",
            "With a phrase/proximity candidate set in hand, the candidate "
            "materialization job also returns (count, min_id, max_id), and "
            "the scorer drops blocks BEFORE decode two ways: (1) a literal "
            "range predicate on the stored per-block [first_doc_id, "
            "last_doc_id] span, which reaches the blocks scan's "
            "PushedFilters (`GreaterThanOrEqual(last_doc_id, ..)`, "
            "`LessThanOrEqual(first_doc_id, ..)`), so disjoint blocks are "
            "skipped by parquet row-group statistics; (2) for candidate "
            "sets <= 8192 ids, an exact containment left-semi join "
            "(BroadcastNestedLoopJoin) against the candidate list: a block "
            "survives only if some candidate id falls inside its span.  "
            "Both are lossless: every posting of a skipped block would be "
            "discarded by the post-decode candidate semi-join anyway "
            "(tests/test_serving_concurrency.py::"
            "test_candidate_block_skipping_lossless_and_engaged).",
            plan_of(qe_blocks.search('searching "engines retrieval"', assemble=False)),
        ))

    # --- forced block-max WAND pruning on the adversarial corpus -----------
    from web_based_search_engine_spark.fixtures import adversarial_wand_corpus
    from web_based_search_engine_spark.operators import wand as W

    with tempfile.TemporaryDirectory() as wd:
        storage = ParquetIndexStorage(wd)
        IndexBuilder(
            spark, storage, IndexConfig(num_term_buckets=2, block_size=16, salt_buckets=2)
        ).build(adversarial_wand_corpus(spark, 5000), resume=False)
        # the engine's tables, read on its AQE-off session: the served shape
        qe = QueryEngine(spark, storage)
        pruned_plan = plan_of(W.wand_top_k(
            qe.blocks, qe.docs, qe.vocab, ["zzhot", "zzrare"],
            qe.n_docs, qe.avg_doc_len, prune=True, k=10,
        ))
    sections.append((
        "Block-max WAND: pruning that reaches the scans",
        "The final scoring plan of a forced-pruning query (`zzhot zzrare` "
        "on the 5000-doc adversarial corpus, k=10).  Every pruning "
        "decision reaches a SCAN: (1) the pruned path persists only the "
        "candidate blocks' metadata projection (bucket, term_id, block_id, "
        "max_wtf, min_len_d), never payloads; (2) the seed pass fetches "
        "one block per term through `(term_id = t AND max_wtf >= w_b AND "
        "block_id = b)`, plain comparisons that parquet row-group stats "
        "skip on; (3) inverting the BM25 bound at the term's global "
        "min-length gives a per-term scalar w*(t), and `(term_id = t AND "
        "max_wtf >= w*)` is pushed into the block scan (PushedFilters "
        "shows `GreaterThanOrEqual(max_wtf, ..)`), so row groups of "
        "low-tf blocks never surface rows; the exact Catalyst-side bound "
        "then reproduces the identical surviving set.  Doc lengths ride "
        "in the blocks, so neither pass scans `docs`.  Guarded by "
        "tests/test_plans.py::test_wand_prune_filters_push_down (pushed "
        "max_wtf filter, no docs scan, bit-equal results, decoded << "
        "candidate blocks).",
        pruned_plan,
    ))

    # --- driver-contract queries ------------------------------------------
    qs = entry.queries()
    for name, blurb in [
        ("q05_bm25_top50", "Ad-hoc BM25 (index-free): tokenize -> explode -> "
         "two-phase aggregate -> broadcast stats join -> TakeOrderedAndProject."),
        ("q17_minhash_near_dups", "MinHash LSH: signature HashAggregate, band "
         "explode, bucket self-pairing, Jaccard verify joins."),
        ("q29_event_windows", "Tumbling-window aggregation: one partial->final "
         "HashAggregate keyed on (window, event_type); the identical plan "
         "runs under Structured Streaming with watermark state."),
        ("q30_event_sessions", "Gap sessionization via session_window: Spark "
         "plans it as a sort-merge session aggregation keyed on user_id — "
         "associative state merge, no per-user window-function total sort."),
        ("q32_pii_redaction", "PII redaction audit: one narrow projection — "
         "regexp chains + sha2 all inside a single WholeStageCodegen span, "
         "zero exchanges (same dataflow class as textstats)."),
        ("q34_token_shards", "Token-budget sharding: ONE RangePartitioning "
         "exchange, then MapInPandas streams the cumsum over the cached "
         "range-sorted partitions (B-row prefix offsets live in the UDF "
         "closure) — no `Exchange SinglePartition`, no global window, no "
         "second hash exchange, no per-partition sort buffer."),
        ("q35_repetition_features", "Within-doc repetition (Gopher top-/dup-"
         "n-gram fractions): a pure narrow scan — the per-doc gram counting "
         "is a run-length `aggregate` over the SORTED gram array inside the "
         "projection, so there is NO explode, NO shuffle, and the whole "
         "operator is one codegen stage.  An explode -> groupBy(doc_id, "
         "gram) formulation would shuffle token-granularity rows (at 100 "
         "TB: a second postings-build-sized exchange just for a quality "
         "column)."),
        ("q36_contamination", "Benchmark-contamination scan: the benchmark "
         "side (deterministic doc_id % 97 subset here; real eval sets are "
         "MBs) is aggregated to its distinct gram set and BROADCAST — the "
         "corpus-side explode probes it map-side and never shuffles.  The "
         "only exchanges are on the tiny benchmark set and the per-doc hit "
         "counts (partial-agg'd before the exchange); the final "
         "totals<-hits join is a broadcast left join."),
        ("q37_curation_funnel", "Curation funnel (input -> lang -> quality "
         "-> exact-dedup -> sample counts) in ONE job: all per-doc signals "
         "are computed in a narrow scan via the column builders shared with "
         "q11/q12/q14; the only data-sized exchange is groupBy(fingerprint) "
         "over the filtered (fp, id, stratum) rows (SortAggregate because "
         "of min_by).  The two scalar aggregates meet in a 1x1 broadcast "
         "cross join; stage rows come from one explode of a literal array."),
        ("q38_knn_join", "Batch exact-cosine kNN join: the query matrix (Q "
         "x dim) ships in the mapInPandas closure; each corpus partition "
         "computes one numpy matmul per Arrow batch and keeps a running "
         "per-query top-k, so the stage emits <= partitions x Q x k rows.  "
         "The ONLY exchange is the final rank-window shuffle over that "
         "tiny candidate frame, hash-partitioned by query_id — the 100 TB "
         "corpus side is scanned once with no data-sized shuffle."),
        ("q39_unigram_lm", "Unigram-LM score: shuffle volume bounded by "
         "DISTINCT (doc, term) pairs (explode feeds a partial->final "
         "HashAggregate, never raw tokens across the wire); the term->cf "
         "model re-enters via an explicit BroadcastHashJoin and the corpus "
         "total as a broadcast 1-row nested-loop join — no driver collect, "
         "no term-keyed re-shuffle of the pair frame."),
        ("q40_datacard", "Dataset-card rollup: ONE groupBy(source) over a "
         "narrow projection computing all per-doc signals inline; the two "
         "count-distincts plan as a single Expand (3x group-keyed rows, "
         "still partial->final combined) — no self-joins, no second text "
         "pass."),
        ("q42_chunking", "Training-export chunking: tokenize + per-row "
         "sequence of window starts + posexplode, all inside one codegen "
         "span — ZERO exchanges; the explode's fan-out (~n/stride) is the "
         "output's inherent size, produced map-side."),
        ("q43_winnow_pairs", "Winnowing (MOSS) partial-overlap candidates: "
         "the fingerprint selection (k-gram md5 hashes -> window minima) "
         "is per-row arithmetic inside one codegen scan; the only "
         "data-sized exchange is groupBy(fingerprint), whose bucket sizes "
         "are bounded by clone-cluster sizes and hard-capped (cap "
         "surfaced per pair) — never an all-pairs join."),
        ("q44_code_features", "Code line-structure features: split + "
         "higher-order filters/aggregates over the line array in one "
         "narrow codegen projection — zero exchanges (the q35 dataflow "
         "class; an explode-per-line formulation would shuffle "
         "line-granularity rows)."),
        ("q45_secret_scan", "Secret scan: four regexp_count expressions in "
         "a single WholeStageCodegen projection — zero exchanges; counts "
         "(not flags) so redaction deltas are auditable."),
        ("q46_license_scan", "License detection: lower(substring(head)) + "
         "chained CASE contains in one codegen projection — the substring "
         "bounds per-row cost on multi-MB blobs; zero exchanges."),
        ("q50_length_profile", "Length profile: one partial->final "
         "aggregate keyed on the group column; the exact percentile is a "
         "sort-based ObjectHashAggregate whose buffer is bounded by "
         "docs-per-group (languages/sources) — the approx variant "
         "(percentile_approx sketch) is the unbounded-group path."),
        ("q51_asof_join", "AS-OF join: union of tagged sides -> ONE hash "
         "exchange on the key -> per-key sort + carry-forward last() "
         "window -> filter left rows.  No BroadcastNestedLoopJoin, no "
         "range-exploded join — the two shapes Spark would otherwise pick "
         "for an inequality join, both quadratic blowups at scale."),
        ("q48_proximity", "Proximity retrieval: k per-term position "
         "aggregations join on doc_id (docs missing any term drop out "
         "before any window work), then the exact minimal-cover scan is "
         "ONE aggregate expression over the merged tagged positions — no "
         "explode of (pos, term) rows, no window-function total sort per "
         "doc (the SQL oracle does it that way; the engine does not have "
         "to)."),
        ("q47_semantic_dedup", "Semantic dedup (SemDeDup): the nearest-"
         "centroid assignment is a pure Catalyst argmax over codebook "
         "literals (no join for the candidate generator); exact cosine "
         "runs only on in-cell pairs (capped groupBy(cell)), and the "
         "verdict join is keyed on vec_id — at 10^12 vectors the cell is "
         "the ANN index's partition column, so pairing is per-partition "
         "work."),
    ]:
        if name == "q40_datacard":
            plan = canonical_datacard_plan(lambda: qs["q40_datacard"](spark, SF_DIR))
        else:
            plan = plan_of(qs[name](spark, SF_DIR))
        sections.append((f"Driver query: {name}", blurb, plan))

    # --- pagerank: one representative ITERATION plan ------------------------
    # (the full 10-iteration frame is checkpoint-truncated per round — the
    # per-iteration plan IS the scale story: one edge-join shuffle, a
    # broadcast 1-row dangling aggregate, no driver collect in the loop)
    from web_based_search_engine_spark.operators import links as L

    docs = entry._docs(spark, SF_DIR).select(
        "doc_id", entry._raw_tokens_col().alias("toks")
    )
    edges = L.prefix_group_links(docs, "doc_id", "toks", k=4).persist()
    nodes = (
        edges.select(F.col("src_doc_id").alias("doc_id"))
        .unionByName(edges.select(F.col("dst_doc_id").alias("doc_id")))
        .distinct()
    )
    out_deg = edges.groupBy(F.col("src_doc_id").alias("doc_id")).agg(
        F.count("*").alias("out_degree")
    )
    adj = edges.select(
        F.col("src_doc_id").alias("doc_id"), F.col("dst_doc_id").alias("dst_id")
    ).join(out_deg, "doc_id")
    n = nodes.count()
    ranks = nodes.select("doc_id", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    # static (AQE-off) plan: the only place exchange reuse is visible as a
    # plan node — under AQE the 1-row dangling total compiles to its own
    # sub-execution over the checkpointed rank state (links.pagerank doc)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pr_plan = plan_of(L.pagerank_iteration(nodes, adj, ranks, n, 0.85))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in pr_plan, (
        "pagerank iteration must reuse the contribution shuffle between "
        "the node join and the 1-row dangling-mass total (static planner)"
    )
    sections.append((
        "PageRank: single power iteration, static plan (q28 runs 10, "
        "localCheckpoint-truncated per round)",
        "One data-sized shuffle per iteration and ONE data-sized join of "
        "the rank state: adj ⋈ ranks on doc_id then partial->final "
        "HashAggregate on dst; dangling mass = 1 - sum(contrib) over the "
        "SAME shuffled relation (ReusedExchange below), broadcast back as "
        "a 1-row frame — no collect in the loop, and no second anti-join "
        "pass over ranks (the pre-round-3 shape).",
        pr_plan,
    ))

    # --- connected components: one propagation ROUND (q31 runs to fixpoint,
    # localCheckpoint-truncated per round like pagerank) --------------------
    from web_based_search_engine_spark.operators import dedup as D

    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "toks", num_hashes=16, bands=4, shingle_k=3, threshold=0.5
    )
    cc_edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    cc_labels = (
        cc_edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    sections.append((
        "Connected components: single propagation round (q31 runs to "
        "fixpoint; labels localCheckpoint-truncated per round)",
        "One data-sized shuffle per round: edges ⋈ labels on dst, then a "
        "partial->final min-HashAggregate keyed on src (map-side combine "
        "bounds shuffle volume by distinct src nodes), and a left join "
        "back onto the checkpointed labels scan.  The `_changed` column "
        "feeds a 1-row convergence count — no driver collect of labels; "
        "rounds needed = component diameter (near-dup clusters are dense, "
        "2-3 in practice), and the fixpoint raises rather than returning "
        "a silently-partial labeling at the max_iter bound.",
        plan_of(D.cc_round(cc_edges, cc_labels)),
    ))

    checks = []
    joined = "\n".join(p for _, _, p in sections)
    for marker in ("PushedFilters", "PartitionFilters", "codegen id",
                   "BroadcastHashJoin", "HashAggregate"):
        checks.append(f"- `{marker}`: {joined.count(marker)} occurrences")

    out = REPO_ROOT / "EXPLAIN.md"
    with open(out, "w") as f:
        f.write("# EXPLAIN — physical plans of the load-bearing dataflows\n\n")
        f.write("Generated by `tools/explain_plans.py` on the sf0.001/F1 "
                "fixtures (plans are scale-invariant; row counts are not).\n\n")
        f.write("Marker counts across all plans below:\n\n")
        f.write("\n".join(checks) + "\n")
        for title, blurb, plan in sections:
            f.write(f"\n## {title}\n\n{blurb}\n\n```\n{trim(plan)}\n```\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
