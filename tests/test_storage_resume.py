"""Checkpoint/resume + storage semantics (FIXTURES.md F6, north_rule):
resumed builds skip completed stages and produce identical tables; the
manifest carries per-stage lineage + metrics; ids are dense/deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.operators.ids import assign_dense_ids
from web_based_search_engine_spark.plans.build import STAGES, IndexBuilder
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage


def _table_hash(spark, storage, name, key):
    df = storage.read_table(spark, name)
    return sorted(
        (tuple(r) for r in df.select(*key).collect()),
    )


def test_resume_skips_completed(spark, built_index):
    storage = built_index["storage"]
    corpus = fixtures.corpus_df(spark, built_index["n_docs"])
    rep = IndexBuilder(spark, storage, built_index["cfg"]).build(corpus, resume=True)
    assert rep.stages_run == []
    assert rep.stages_skipped == STAGES


def test_interrupted_build_resumes_identically(spark, tmp_path):
    """Simulate a crash after each early stage: a fresh builder resumed on
    the partial manifest must complete and match a clean build exactly."""
    cfg = IndexConfig(num_term_buckets=2, block_size=8)
    corpus = fixtures.corpus_df(spark, 60)

    clean_storage = ParquetIndexStorage(tmp_path / "clean")
    IndexBuilder(spark, clean_storage, cfg).build(corpus)

    partial = ParquetIndexStorage(tmp_path / "partial")
    b = IndexBuilder(spark, partial, cfg)
    b.build(corpus)
    # wipe completion markers of later stages -> forces re-run from stage 3
    partial.invalidate_from(STAGES[2:])
    rep = b.build(corpus, resume=True)
    assert rep.stages_skipped == STAGES[:2]
    assert rep.stages_run == STAGES[2:]

    for name, key in [
        ("docs", ["doc_id", "repo", "path", "commit", "sha256", "tf_max"]),
        ("vocab", ["term_id", "term", "df", "cf"]),
        ("postings", ["term_id", "doc_id", "title_tf", "body_tf"]),
    ]:
        assert _table_hash(spark, clean_storage, name, key) == _table_hash(
            spark, partial, name, key
        ), name


def test_manifest_lineage_and_metrics(spark, built_index):
    m = built_index["storage"].manifest()
    for stage in STAGES:
        assert m["stages"][stage]["completed"], stage
        t = m["tables"][stage]
        assert t["rows"] > 0 and t["num_files"] == len(t["files"]) > 0
        assert t["bytes"] > 0
    assert any(x["stage"] == "postings" for x in m["metrics"])
    # postings partitioned by storage bucket (partition pruning at query time)
    assert m["tables"]["postings"]["partition_by"] == ["bucket"]


def test_dense_ids_deterministic_and_ordered(spark):
    rows = [(f"k{i:03d}", i) for i in range(57)]
    df = spark.createDataFrame(rows, "k string, v int").repartition(5)
    a = assign_dense_ids(df, ["k"], "id", num_buckets=4)
    got = {r["k"]: r["id"] for r in a.collect()}
    # dense 1..N and in global key order
    assert sorted(got.values()) == list(range(1, 58))
    assert [k for k, _ in sorted(got.items(), key=lambda kv: kv[1])] == sorted(got)
    # independent of input partitioning
    b = assign_dense_ids(df.repartition(2), ["k"], "id", num_buckets=7)
    assert {r["k"]: r["id"] for r in b.collect()} == got


def test_salted_agg_matches_unsalted(spark):
    """Salting invariance (SURVEY §5 item 5): the two-phase salted df/cf
    aggregation equals a plain groupBy."""
    from web_based_search_engine_spark.operators import postings as P

    prepared = P.prepare_corpus(fixtures.corpus_df(spark, 80))
    corpus_tok = P.with_doc_ids(prepared, IndexConfig(num_term_buckets=2))
    merged = P.positional_postings(corpus_tok)
    vocab = P.build_vocab(merged, IndexConfig(num_term_buckets=2, salt_buckets=5))
    plain = (
        merged.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum(F.col("title_tf") + F.col("body_tf")).alias("cf"),
        )
        .collect()
    )
    want = {r["term"]: (r["df"], r["cf"]) for r in plain}
    got = {r["term"]: (r["df"], r["cf"]) for r in vocab.collect()}
    assert got == want


def test_build_invariant_to_parallelism(spark, tmp_path):
    """The cluster-size story at the correctness level (north_rule: same
    job at N and 4N executors): building the SAME corpus under different
    input partitionings AND different shuffle widths must publish
    value-identical index tables and rank-identical query results — no
    stage may depend on partition count or intra-partition order."""
    from web_based_search_engine_spark.plans.query import QueryEngine

    cfg = IndexConfig(num_term_buckets=3, block_size=16, salt_buckets=3)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for label, (parts, sp) in {"narrow": (2, "4"), "wide": (13, "32")}.items():
            spark.conf.set("spark.sql.shuffle.partitions", sp)
            storage = ParquetIndexStorage(tmp_path / label)
            IndexBuilder(spark, storage, cfg).build(
                fixtures.corpus_df(spark, 120, num_partitions=parts)
            )
            tables = {
                name: _table_hash(spark, storage, name, key)
                for name, key in [
                    ("docs", ["doc_id", "repo", "path", "sha256", "tf_max",
                              "doc_norm"]),
                    ("vocab", ["term_id", "term", "df", "cf", "bucket"]),
                    ("postings", ["term_id", "doc_id", "title_tf", "body_tf",
                                  "title_pos", "body_pos"]),
                    ("blocks", ["term_id", "block_id", "count", "max_wtf",
                                "doc_ids", "title_tfs", "body_tfs",
                                "title_pos", "body_pos"]),
                ]
            }
            qe = QueryEngine(spark, storage)
            hits = [
                (r["doc_id"], round(r["score"], 9))
                for r in qe.search('merge_sort searching "engines retrieval"',
                                   assemble=False).collect()
            ]
            results[label] = (tables, hits)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    narrow, wide = results["narrow"], results["wide"]
    for name in narrow[0]:
        assert narrow[0][name] == wide[0][name], f"table {name} diverged"
    assert narrow[1] == wide[1]


# ---------------------------------------------------------------------------
# IcebergStorage dispatch contract (directive r4-5): the sandbox has no
# iceberg-spark-runtime jar, so these drive the class against a MOCKED
# catalog and pin the dispatch — table identifiers, partition specs, and
# which DataFrameWriterV2 verb each method calls.  The class is tested
# code; only the jar-loaded integration is out of sandbox reach.
# ---------------------------------------------------------------------------


class _FakeWriterV2:
    def __init__(self, log, table):
        self.log, self.table = log, table

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", self.table, [str(c) for c in cols]))
        return self

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table))

    def overwritePartitions(self):
        self.log.append(("overwritePartitions", self.table))


class _FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, table):
        self.log.append(("writeTo", table))
        return _FakeWriterV2(self.log, table)


class _FakeCatalog:
    def __init__(self, log, existing):
        self.log, self.existing = log, existing

    def tableExists(self, full):
        self.log.append(("tableExists", full))
        return full in self.existing


class _FakeSpark:
    def __init__(self, existing=(), namespace_fails=False):
        self.log = []
        self.catalog = _FakeCatalog(self.log, set(existing))
        self.namespace_fails = namespace_fails

    def sql(self, q):
        self.log.append(("sql", q))
        if self.namespace_fails:
            raise Exception("catalog 'ice' not found")

    def table(self, full):
        self.log.append(("table", full))
        return f"df:{full}"


def test_iceberg_storage_write_read_dispatch(spark):  # F.col needs a live SparkContext
    from web_based_search_engine_spark.sources.catalog import IcebergStorage

    fs = _FakeSpark()
    st = IcebergStorage(fs, "ice.idx")
    assert ("sql", "CREATE NAMESPACE IF NOT EXISTS ice.idx") in fs.log

    df = _FakeDF(fs.log)
    full = st.write_table(df, "postings", partition_by=["bucket"])
    assert full == "ice.idx.postings"
    assert ("writeTo", "ice.idx.postings") in fs.log
    pb = [e for e in fs.log if e[0] == "partitionedBy"]
    assert pb == [("partitionedBy", "ice.idx.postings", ["Column<'bucket'>"])]
    assert ("createOrReplace", "ice.idx.postings") in fs.log
    # full-table replace must NOT go through partition overwrite
    assert all(e[0] != "overwritePartitions" for e in fs.log)

    assert st.read_table(fs, "vocab") == "df:ice.idx.vocab"
    assert ("table", "ice.idx.vocab") in fs.log


def test_iceberg_storage_partition_overwrite_dispatch():
    """The upsert path's partition-granular rewrite maps to Iceberg dynamic
    partition overwrite — overwritePartitions(), never createOrReplace
    (which would drop the untouched partitions)."""
    from web_based_search_engine_spark.sources.catalog import IcebergStorage

    fs = _FakeSpark(existing={"ice.idx.postings"})
    st = IcebergStorage(fs, "ice.idx")
    df = _FakeDF(fs.log)
    full = st.write_table_partitions(df, "postings", ["bucket"], [0, 3])
    assert full == "ice.idx.postings"
    assert ("writeTo", "ice.idx.postings") in fs.log
    assert ("overwritePartitions", "ice.idx.postings") in fs.log
    assert all(e[0] != "createOrReplace" for e in fs.log)

    assert st.has_table("postings") is True
    assert st.has_table("vocab") is False
    assert ("tableExists", "ice.idx.vocab") in fs.log


def test_iceberg_storage_guards():
    """Constructor fails LOUDLY without a catalog (no silent fallback to a
    session-local default); malformed table names never reach SQL; batch()
    refuses rather than silently downgrading cross-table atomicity."""
    from web_based_search_engine_spark.sources.catalog import IcebergStorage

    with pytest.raises(RuntimeError, match="Iceberg catalog unavailable"):
        IcebergStorage(_FakeSpark(namespace_fails=True), "ice.idx")

    st = IcebergStorage(_FakeSpark(), "ice.idx")
    with pytest.raises(ValueError, match="invalid table name"):
        st.write_table(_FakeDF([]), "postings; DROP TABLE x")
    with pytest.raises(NotImplementedError, match="per table"):
        st.batch()


def test_vacuum_expires_old_versions(spark, tmp_path):
    """vacuum keeps the newest keep_last versions ending at the manifest's,
    deletes older dirs, leaves hard-link-shared data readable, and is
    idempotent (catalog.py vacuum; Iceberg expire_snapshots analog)."""
    from pathlib import Path

    st = ParquetIndexStorage(tmp_path / "idx")
    for i in range(3):  # v1, v2, v3: full rewrites
        df = spark.range(10 * (i + 1)).withColumn("b", F.col("id") % 2)
        st.write_table(df, "t", partition_by=["b"])
    # v4: partition-granular rewrite of b=0 — b=1 carried by hard links
    df4 = spark.range(40).withColumn("b", F.col("id") % 2).where("b = 0")
    st.write_table_partitions(df4, "t", ["b"], [0])
    tdir = Path(st.root) / "tables" / "t"
    assert sorted(p.name for p in tdir.iterdir()) == ["v1", "v2", "v3", "v4"]
    # orphan of a crashed future commit: must be left alone
    (tdir / "v9").mkdir()

    stats = st.vacuum(keep_last=2)
    assert stats["t"]["versions_deleted"] == [1, 2]
    assert stats["t"]["files_unlinked"] > 0
    assert sorted(p.name for p in tdir.iterdir()) == ["v3", "v4", "v9"]
    # v4's hard-linked b=1 files (shared with v3) survived v1/v2 expiry;
    # the table reads back complete through the manifest
    got = st.read_table(spark, "t")
    assert got.count() == 20 + 30 // 2  # b=0 from v4 (20 rows), b=1 from v3
    # vacuum metric recorded
    assert any(m.get("stage") == "vacuum" for m in st.manifest()["metrics"])

    assert st.vacuum(keep_last=2) == {}  # idempotent
    stats = st.vacuum(keep_last=1)  # now expire v3: v4's share keeps inodes
    assert stats["t"]["versions_deleted"] == [3]
    assert st.read_table(spark, "t").count() == 35
    with pytest.raises(ValueError, match="keep_last"):
        st.vacuum(keep_last=0)


def test_iceberg_expire_snapshots_dispatch():
    """expire_snapshots drives the Iceberg maintenance CALL with the
    catalog prefix, a TIMESTAMP literal, and retain_last; rejects
    injection-shaped timestamps and retain_last < 1."""
    from web_based_search_engine_spark.sources.catalog import IcebergStorage

    fs = _FakeSpark()
    st = IcebergStorage(fs, "ice.idx")
    st.expire_snapshots("postings", "2026-08-18 00:00:00", retain_last=3)
    calls = [q for op, q in fs.log if op == "sql" and q.startswith("CALL")]
    assert calls == [
        "CALL ice.system.expire_snapshots(table => 'ice.idx.postings', "
        "older_than => TIMESTAMP '2026-08-18 00:00:00', retain_last => 3)"
    ]
    with pytest.raises(ValueError, match="timestamp literal"):
        st.expire_snapshots("postings", "2026-08-18'); DROP TABLE x; --")
    with pytest.raises(ValueError, match="retain_last"):
        st.expire_snapshots("postings", "2026-08-18 00:00:00", retain_last=0)
