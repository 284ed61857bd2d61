"""Structured Streaming ingestion -> freshness-gated partition-granular upsert.

The reference has no streaming (SURVEY §2.7 — its "incremental crawl" is a
batch re-scan).  This module is the Spark-native growth path for a living
corpus: new corpus files land under a directory (the parquet-file stand-in
for an Iceberg table's appended snapshots), Structured Streaming's file
source discovers them incrementally with exactly-once bookkeeping in the
stream checkpoint, and every micro-batch flows through the SAME batch
upsert (``incremental_update``) — streaming as incremental batches, so the
two ingestion modes cannot drift semantically.

``foreachBatch`` (not a built-in sink) is required: the upsert is a
multi-table transaction (postings/blocks/vocab/docs/... swapped in ONE
atomic manifest commit via ``storage.batch()``), which no row-sink can
express.  Late or replayed data is safe without watermarks because the
upsert itself is the dedup/ordering gate: strictly-newer-wins freshness
(Appendix C-W8) makes re-delivered or out-of-order rows no-ops, so the
pipeline is idempotent end-to-end (file-source exactly-once + idempotent
batch = effectively-once).

At cluster scale the same code runs continuously (``processing_time``
trigger) against an object-store landing prefix; in tests it runs with
``availableNow`` (process the backlog, then stop).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import IndexConfig
from ..sources.catalog import ParquetIndexStorage
from .incremental import incremental_update

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def stream_corpus_ingest(
    spark: SparkSession,
    storage: ParquetIndexStorage,
    source_dir: str,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    available_now: bool = True,
    processing_interval: str = "1 minute",
):
    """Start the ingest stream; returns the StreamingQuery.

    ``available_now=True`` drains the current backlog and stops (test /
    catch-up mode); ``False`` runs continuously with ``processing_interval``
    micro-batches.  Callers ``q.awaitTermination()``."""
    cfg = cfg or IndexConfig()
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 64)  # bound per-batch upsert size
        .parquet(source_dir)
        # Source-file modification time = the batch's recency signal: when
        # one micro-batch carries two revisions of the same (repo, path)
        # from different landed files, plan_freshness's newest-wins
        # collapse orders by this, not by lexicographic commit hash (which
        # is arbitrary).  Not persisted in docs, so cross-batch freshness
        # still compares content sha (plan_freshness's documented fallback).
        .withColumn("ingest_mtime", F.col("_metadata.file_modification_time"))
    )

    def handle_batch(batch_df, batch_id: int) -> None:
        # empty micro-batches short-circuit inside plan_freshness (n_fresh=0)
        incremental_update(spark, storage, batch_df, cfg, mtime_col="ingest_mtime")

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("corpus-ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


def drain(query) -> None:
    """Wait until the query has processed everything its sources held when
    it started, then stop it; re-raises the stream's failure, if any.

    The way to finish a bounded run of a query built on
    ``streaming_exact_dedup`` or ``streaming_lsh_novelty`` with
    ``ttl_minutes`` set: a processing-time timeout keeps planning no-data
    micro-batches to evict aged state, so such a query never terminates on
    its own, not even under ``trigger(availableNow=True)``, and
    ``awaitTermination`` would wait forever.  ``processAllAvailable`` waits
    forever too (Spark 4.1): it returns only after a trigger that plans NO
    batch, and a timeout query plans a batch on every trigger.

    The drain stops after two consecutive batches that read no input.  One
    is not enough: a query restarted on a checkpoint first re-runs the
    batch its predecessor was stopped in, which may be a no-data batch
    while new files wait; the batch after it plans from the offsets fixed
    at start.  A query that terminates by itself (a TTL-free
    ``availableNow`` one) just ends the wait.  A query that has not
    drained within 120 s (a stalled stream) is stopped and the drain
    raises ``TimeoutError``."""
    import time

    deadline = time.monotonic() + 120
    while query.isActive:
        last = {}
        for p in query.recentProgress:
            last[p["batchId"]] = p["numInputRows"]
        ids = sorted(last)
        if len(ids) >= 2 and ids[-1] == ids[-2] + 1 and last[ids[-1]] == last[ids[-2]] == 0:
            break
        if time.monotonic() > deadline:
            query.stop()
            raise TimeoutError(f"stream {query.id} did not drain within 120 s")
        time.sleep(0.1)
    query.stop()
    query.awaitTermination()


def streaming_exact_dedup(
    stream_df,
    text_col: str = "content",
    order_cols: list[str] | None = None,
    ttl_minutes: int | None = None,
):
    """Custom stateful operator: exact-duplicate suppression ACROSS
    micro-batches — the streaming twin of the batch ``dedup_exact``
    (q09).  Emits only the FIRST document ever seen per md5(text)
    fingerprint; later arrivals of the same text (same batch or any later
    batch) are dropped.  Within a batch the winner is deterministic: the
    row minimal under ``order_cols`` (default: every input column).

    Built on ``applyInPandasWithState`` (this engine's only non-built-in
    stateful streaming surface — sessionization and windows use the
    native operators): grouping by fingerprint shards the seen-set across
    executors as Structured Streaming state, checkpointed with the query,
    so a restart resumes the dedup set exactly-once.  State per distinct
    document is one boolean-sized tuple — the usual streaming-dedup
    memory story; ``ttl_minutes`` bounds it with a processing-time
    timeout (an expired fingerprint re-admits its next arrival, the
    standard TTL trade-off; None keeps state forever like
    ``dropDuplicates`` without watermark).  With ``ttl_minutes`` set the
    query never terminates by itself, even under ``availableNow``: callers
    finish a bounded run with ``drain(query)``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = stream_df.columns
    order_cols = order_cols or cols
    with_fp = stream_df.withColumn(
        "_fp", F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    out_schema = stream_df.schema
    ttl_ms = None if ttl_minutes is None else int(ttl_minutes * 60_000)

    def first_only(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            for _ in pdfs:  # drain; fingerprint already emitted
                pass
            return
        first = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.sort_values(order_cols, kind="mergesort").iloc[[0]]
            if first is None:
                first = cand
            else:
                first = (
                    pd.concat([first, cand])
                    .sort_values(order_cols, kind="mergesort")
                    .iloc[[0]]
                )
        if first is not None:
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield first[cols]

    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return with_fp.groupBy("_fp").applyInPandasWithState(
        first_only, out_schema, "seen boolean", "append", timeout
    )


def streaming_lsh_novelty(
    stream_df,
    id_col: str = "doc_id",
    text_col: str = "content",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    ttl_minutes: float | None = None,
):
    """Custom stateful operator #2: streaming NEAR-dup triage — per-doc
    (band, led) rows where ``led`` marks the doc as the first-ever
    arrival in that LSH band bucket.

    The streaming counterpart of the batch LSH candidate generator
    (operators/dedup.py): each of a doc's ``bands`` band keys addresses a
    bucket; the bucket's LEADER is the first arrival (earliest
    micro-batch, then min ``id_col`` within that batch — deterministic,
    so an offline replay can reproduce it).  A doc that leads ALL its
    buckets has no earlier near-dup candidate anywhere in the stream; a
    doc leading none of them is (a candidate) near-dup of earlier
    content.  Downstream, ``n_led / n_bands`` is the usual ingest-triage
    novelty score (the doc-level rollup is a plain batch groupBy over the
    emitted rows — streaming append mode does not allow a second
    stateful aggregation without a watermark, and the rollup is
    per-sink-consumer policy anyway).

    State per bucket: one boolean — the same O(distinct buckets) memory
    story as streaming_exact_dedup, sharded by the (band, band_key)
    grouping across executors and checkpointed with the query.  Without a
    bound that set grows O(distinct buckets) FOREVER; ``ttl_minutes``
    gives it the same processing-time-timeout eviction as
    streaming_exact_dedup — an expired bucket forgets its leader, so the
    next arrival leads again (the standard TTL re-admit trade-off; at
    ingest scale the TTL is the novelty horizon: "near-dup of anything
    seen in the last H hours").  None keeps state forever.  With
    ``ttl_minutes`` set the query never terminates by itself, even under
    ``availableNow``: callers finish a bounded run with ``drain(query)``.
    The
    signature/banding math is the SAME pure-Catalyst md5 family as batch
    MinHash, so stream and batch candidates cannot drift.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.analysis import tokenize
    from ..operators.dedup import _banded, minhash_signatures

    toks = tokenize(text_col, lowercase=True)
    sigs = minhash_signatures(
        stream_df.select(F.col(id_col), toks.alias("_t")),
        id_col, "_t", num_hashes, shingle_k,
    )
    banded = _banded(sigs, id_col, num_hashes, bands)
    ttl_ms = None if ttl_minutes is None else int(ttl_minutes * 60_000)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), True),
            T.StructField("band", T.IntegerType(), True),
            T.StructField("led", T.BooleanType(), True),
        ]
    )

    def bucket_leader(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # aged-out bucket: next arrival leads again
            return
        rows = [pdf for pdf in pdfs if len(pdf)]
        if not rows:
            return
        pdf = pd.concat(rows)
        pdf = pdf.sort_values(id_col, kind="mergesort")
        led = [False] * len(pdf)
        if not state.exists:
            led[0] = True  # first-ever arrival in this bucket
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        out = pdf[[id_col, "band"]].copy()
        out["led"] = led
        yield out

    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return banded.groupBy("band", "band_key").applyInPandasWithState(
        bucket_leader,
        out_schema,
        "occupied boolean",
        "append",
        timeout,
    )
