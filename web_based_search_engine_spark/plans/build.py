"""Checkpointed, resumable index build (EP1 rebuild lifecycle, SURVEY §3).

Stages (each materialized + manifest-committed; a resumed build skips every
completed stage — north_rule checkpoint/lineage requirement, FIXTURES.md F6):

  1. corpus_tok   tokenize (Arrow UDF) + sha256 + dense doc ids
  2. postings_raw positional group-by (doc_id, term) — the big shuffle
  3. vocab        salted term stats + dense term ids
  4. postings     term-id encoding, bucketed layout (partition column)
  5. docs         tf_max + reference cosine norm
  6. stats        corpus aggregates (N, avgdl)
  7. forward      doc -> (term, tf) list for top-5-keyword display
  8. links        web-graph edges (import refs ⋈ module names, links.py)
  9. blocks       delta-gap + varint compressed posting blocks + stats-free
                  block-max skip bounds (max_wtf, min_len_d)

Incremental upsert (freshness semantics of Indexer.isFreshDocument,
Appendix C-W8) lives in streaming/incremental.py: it computes each table's
changed partitions with this builder's stage functions, and finishes a
crashed build by resuming it here before it upserts.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import IndexConfig
from ..operators import blocks as B
from ..operators import links as L
from ..operators import postings as P
from ..sources.catalog import ParquetIndexStorage

STAGES = [
    "corpus_tok",
    "postings_raw",
    "vocab",
    "postings",
    "docs",
    "stats",
    "forward",
    "links",
    "blocks",
]


def record_links_fanout(
    spark: SparkSession, storage: ParquetIndexStorage, cfg: IndexConfig
) -> None:
    """The links cap's contract: truncation is SURFACED, never silent — with
    ``links_max_targets_per_module`` set, the fan-out accounting over the
    stored corpus_tok rides the manifest's metrics next to the links stage
    it describes."""
    cap = cfg.links_max_targets_per_module
    if cap is None:
        return
    corpus_tok = storage.read_table(spark, "corpus_tok")
    fan = L.module_fanout_stats(corpus_tok, cap).collect()[0].asDict()
    storage.add_metric({"stage": "links_fanout_cap", "cap": cap, **fan})


@dataclass
class BuildReport:
    stages_run: list[str]
    stages_skipped: list[str]
    seconds: float
    n_docs: int
    stage_seconds: dict[str, float] | None = None


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        storage: ParquetIndexStorage,
        cfg: IndexConfig | None = None,
    ):
        self.spark = spark
        self.storage = storage
        self.cfg = cfg or IndexConfig()

    def _read(self, name: str) -> DataFrame:
        return self.storage.read_table(self.spark, name)

    def build(self, corpus: DataFrame, resume: bool = True) -> BuildReport:
        """Full build: tokenize + everything downstream."""
        cfg = self.cfg
        return self._run_stages(
            lambda: P.with_doc_ids(P.prepare_corpus(corpus, cfg.analysis), cfg),
            resume=resume,
        )

    def build_from_prepared(self, prepared: DataFrame, resume: bool = True) -> BuildReport:
        """Build from an already-tokenized corpus (``prepare_corpus`` output,
        or hand-built token arrays)."""
        return self._run_stages(
            lambda: P.with_doc_ids(prepared, self.cfg), resume=resume
        )

    def _run_stages(self, corpus_tok_fn, resume: bool) -> BuildReport:
        t0 = time.time()
        # ETL path wants AQE (skew-join handling + partition coalescing on
        # the big shuffles); the caller's session may have it off — re-pin
        # at build entry.
        self.spark.conf.set("spark.sql.adaptive.enabled", "true")
        run: set[str] = set()
        skipped: set[str] = set()
        stage_seconds: dict[str, float] = {}
        st = self.storage
        cfg = self.cfg

        def do(stage: str, fn, partition_by=None, write_options=None):
            if resume and st.stage_done(stage):
                skipped.add(stage)
                return
            ts = time.time()
            df = fn()
            st.write_table(df, stage, partition_by=partition_by, stage=stage,
                           write_options=write_options)
            stage_seconds[stage] = round(time.time() - ts, 3)
            run.add(stage)

        # Stage DAG, not a stage list: `links` depends only on corpus_tok;
        # `forward` and `blocks` only on postings (+ corpus_tok lengths for
        # blocks — NOT on docs/vocab/stats, by the stats-free block-bound
        # design in operators/blocks.py).  All three run on helper threads
        # concurrently with the docs/stats critical path (Spark schedules
        # concurrent jobs at task granularity — the small stages' fixed
        # latencies hide behind the big encodes instead of adding to the
        # build's serial floor).  Checkpoint/resume semantics are
        # unchanged: every stage still commits its own manifest entry
        # (thread-safe in storage).
        from concurrent.futures import ThreadPoolExecutor

        def surface(*futures):
            # re-raise a helper-thread failure as soon as it is visible
            # instead of only after the expensive critical path completes
            for f in futures:
                if f is not None and f.done():
                    f.result()

        do("corpus_tok", corpus_tok_fn, partition_by=["dbucket"])
        with ThreadPoolExecutor(max_workers=3) as ex:
            links_f = ex.submit(
                do, "links", lambda: L.links_from_corpus_tok(
                    self._read("corpus_tok"), cfg.links_max_targets_per_module
                )
            )
            do("postings_raw", lambda: P.positional_postings(self._read("corpus_tok")))
            surface(links_f)
            do(
                "vocab",
                lambda: P.build_vocab(self._read("postings_raw"), cfg),
                partition_by=["bucket"],
            )
            surface(links_f)
            do(
                "postings",
                lambda: P.encode_postings(
                    self._read("postings_raw"), self._read("vocab"), cfg
                ),
                partition_by=["bucket"],
            )
            n_docs = self.storage.table_meta("corpus_tok")["rows"]

            # forward's groupBy(doc_id).collect_list has no map-side
            # combine, so its reduce tasks must be sized by DATA (postings
            # rows), not by the session shuffle conf: ~1M posting rows per
            # task keeps per-task buffering flat as the corpus grows
            # (amortization probe r4: forward was the one stage whose
            # per-doc cost rose at 2x input under a fixed 32-partition
            # conf).  The manifest already knows the exact row count.
            p_rows = int(self.storage.table_meta("postings").get("rows") or 0)
            fwd_parts = max(
                self.spark.sparkContext.defaultParallelism,
                (p_rows + 999_999) // 1_000_000,
            )
            forward_f = ex.submit(
                do,
                "forward",
                lambda: P.forward_frame(
                    self._read("postings"), cfg.num_doc_buckets,
                    shuffle_partitions=fwd_parts,
                ),
                ["dbucket"],
            )
            # blocks is the selective-read table (WAND's pushed max_wtf /
            # doc-span filters prune at ROW-GROUP granularity): cap row
            # groups at ~4 MiB so per-group stats are fine enough to skip
            # on — one default 128 MiB group per file makes every stat
            # span the whole file and skips nothing.
            blocks_f = ex.submit(
                do,
                "blocks",
                lambda: B.encode_blocks(
                    self._read("postings"), P.doc_lengths(self._read("corpus_tok")), cfg
                ),
                ["bucket"],
                B.BLOCKS_WRITE_OPTIONS,
            )
            do(
                "docs",
                lambda: P.build_docs(
                    self._read("corpus_tok"), self._read("postings"),
                    self._read("vocab"), n_docs,
                    with_norms=cfg.reference_norms,
                ),
                partition_by=["dbucket"],
            )
            if "docs" in run and cfg.reference_norms:
                P.validate_docs_norms(self._read("docs"))
            do("stats", lambda: P.build_stats(self._read("docs"), cfg))
            links_f.result()
            if "links" in run:
                record_links_fanout(self.spark, st, cfg)
            forward_f.result()
            blocks_f.result()
        return BuildReport(
            stages_run=[s for s in STAGES if s in run],
            stages_skipped=[s for s in STAGES if s in skipped],
            seconds=time.time() - t0,
            n_docs=n_docs,
            stage_seconds=stage_seconds,
        )
