"""Structured Streaming corpus ingestion (streaming/stream.py): file-source
micro-batches drain through the partition-granular upsert with exactly-once
checkpointing; re-delivery is a freshness no-op."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.plans.build import IndexBuilder
from web_based_search_engine_spark.plans.query import QueryEngine
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage
from web_based_search_engine_spark.streaming.stream import stream_corpus_ingest

CFG = IndexConfig(num_term_buckets=2, block_size=8)


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_ingest_available_now(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    storage = ParquetIndexStorage(tmp_path / "idx")

    base = [
        ("r/a", "f1.py", "c1", "py", "searching engines alpha"),
        ("r/a", "f2.py", "c1", "py", "posting retrieval beta"),
    ]
    IndexBuilder(spark, storage, CFG).build(
        spark.createDataFrame(base, fixtures.CORPUS_SCHEMA)
    )

    # batch 1 lands: one changed doc + one new doc
    _write_batch(spark, [
        ("r/a", "f2.py", "c2", "py", "posting retrieval gamma STREAMED"),
        ("r/a", "f3.py", "c1", "py", "freshdoc zeta"),
    ], landing)
    q = stream_corpus_ingest(spark, storage, landing, ckpt, CFG, available_now=True)
    q.awaitTermination(120)

    qe = QueryEngine(spark, storage)
    assert qe.search("zeta", assemble=False).count() == 1
    assert qe.search("gamma", assemble=False).count() == 1
    assert qe.search("beta", assemble=False).count() == 0  # replaced
    assert storage.read_table(spark, "docs").count() == 3

    # batch 2 lands later; a NEW stream over the same checkpoint processes
    # only the new file (file-source exactly-once)
    _write_batch(spark, [("r/a", "f4.py", "c1", "py", "late omega arrives")], landing)
    q2 = stream_corpus_ingest(spark, storage, landing, ckpt, CFG, available_now=True)
    q2.awaitTermination(120)

    qe2 = QueryEngine(spark, storage)
    assert qe2.search("omega", assemble=False).count() == 1
    docs = storage.read_table(spark, "docs")
    assert docs.count() == 4
    # earlier docs' ids stayed stable through both streamed upserts
    ids = {r["path"]: r["doc_id"] for r in docs.collect()}
    assert ids["f1.py"] != ids["f4.py"]
    # replay the same files through a FRESH checkpoint: freshness gate makes
    # re-delivery a no-op (idempotent end-to-end)
    q3 = stream_corpus_ingest(
        spark, storage, landing, str(tmp_path / "ckpt2"), CFG, available_now=True
    )
    q3.awaitTermination(120)
    assert storage.read_table(spark, "docs").count() == 4
    assert QueryEngine(spark, storage).search(
        "omega", assemble=False
    ).count() == 1


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState seen-set: within-batch dups collapse to the
    deterministic winner, cross-batch re-sends are dropped, and the state
    survives a query restart over the same checkpoint."""
    from web_based_search_engine_spark.streaming.stream import (
        CORPUS_SCHEMA, streaming_exact_dedup)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_drain():
        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(landing)
        deduped = streaming_exact_dedup(
            stream, text_col="content", order_cols=["repo", "path"])
        q = (deduped.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: an in-batch duplicate pair + one unique doc
    _write_batch(spark, [
        ("r/b", "z9.py", "c1", "py", "SAME text body"),
        ("r/a", "a1.py", "c1", "py", "SAME text body"),
        ("r/a", "u1.py", "c1", "py", "unique one"),
    ], landing)
    run_drain()
    got = {(r["repo"], r["path"]) for r in spark.read.parquet(out).collect()}
    # winner of the dup pair is min by (repo, path)
    assert got == {("r/a", "a1.py"), ("r/a", "u1.py")}

    # batch 2 (fresh query, same checkpoint): a re-send of seen text is
    # dropped, a new text passes
    _write_batch(spark, [
        ("r/c", "later.py", "c2", "py", "SAME text body"),
        ("r/c", "new.py", "c1", "py", "never seen before"),
    ], landing)
    run_drain()
    got2 = {(r["repo"], r["path"]) for r in spark.read.parquet(out).collect()}
    assert got2 == got | {("r/c", "new.py")}


def test_streaming_lsh_novelty_bucket_leaders(spark, tmp_path):
    """Stateful LSH novelty: the first-ever arrival in every band bucket
    leads; an identical later doc leads nothing; state survives a query
    restart over the same checkpoint (cross-batch leaders hold)."""
    from pyspark.sql import types as T

    from web_based_search_engine_spark.streaming.stream import streaming_lsh_novelty

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ])

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{landing}/{name}"
        )

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(f"{landing}/*")
        rows = streaming_lsh_novelty(stream, "doc_id", "text", 16, 4, 3)
        q = (rows.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # batch 1: identical pair (2 beats nothing: 1 is min) + a unique doc
    write_batch([(1, base), (2, base), (5, "totally different words here")], "b1")
    run_drain()
    rollup = lambda: {
        r["doc_id"]: (r["n"], r["led"])
        for r in spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("led").cast("int")).alias("led"))
        .collect()
    }
    got = rollup()
    assert got[1] == (4, 4)      # leads all 4 band buckets
    assert got[2] == (4, 0)      # identical: same buckets, all led already
    assert got[5] == (4, 4)      # unique text, fresh buckets
    # batch 2 (fresh query, same checkpoint): re-sent text leads nothing
    write_batch([(9, base)], "b2")
    run_drain()
    assert rollup()[9] == (4, 0)


def test_streaming_lsh_novelty_ttl_evicts_aged_buckets(spark, tmp_path):
    """Directive r4-9: with ``ttl_minutes`` set the bucket-leader state is
    EVICTED once aged out (processing-time timeout), so a re-send of old
    content leads its buckets again — the state-size bound for an
    unbounded ingest stream.  Eviction fires in a trigger where the aged
    group receives no data (Structured Streaming timeout semantics), so
    the middle batch carries unrelated text.  Each run ends through
    ``drain``, since a TTL query never terminates on its own."""
    import time

    from pyspark.sql import types as T

    from web_based_search_engine_spark.streaming.stream import (
        drain,
        streaming_lsh_novelty,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ])

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{landing}/{name}"
        )

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(f"{landing}/*")
        rows = streaming_lsh_novelty(
            stream, "doc_id", "text", 16, 4, 3, ttl_minutes=0.01  # 600 ms
        )
        q = (rows.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        # a TTL query never terminates by itself; drain stops it
        drain(q)
        assert not q.isActive

    base = "alpha beta gamma delta epsilon zeta eta theta"
    write_batch([(1, base)], "b1")
    run_drain()
    time.sleep(2)  # let the 600 ms TTL lapse
    # trigger WITHOUT data for base's buckets: aged groups time out here
    write_batch([(2, "completely unrelated filler words now")], "b2")
    run_drain()
    # re-send of the aged-out text: leads all its buckets AGAIN
    write_batch([(3, base)], "b3")
    run_drain()
    got = {
        r["doc_id"]: (r["n"], r["led"])
        for r in spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("led").cast("int")).alias("led"))
        .collect()
    }
    assert got[1] == (4, 4)
    assert got[3] == (4, 4), got  # state evicted -> doc 3 leads again
