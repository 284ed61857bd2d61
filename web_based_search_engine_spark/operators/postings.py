"""Index construction: tokenized corpus -> docs / vocab / postings / stats.

Replaces the reference's per-document mutable KV updates
(PostingIndex.addDocument, PostingIndex.java:40-85; InvertedIndex.updateTFMax,
InvertedIndex.java:38-54; WordIndexer/URLIndexer sequential id assignment)
with one declarative dataflow:

  corpus -> tokenize (Arrow UDF) -> dense doc ids -> posexplode per field
         -> groupBy(doc_id, term, field) positions/tf -> pivot fields
         -> dictionary-encode terms -> salted df agg -> per-doc stats

Shuffle budget for the whole build:
  1. doc-id bucket shuffle (uniform hash, ids.py)
  2. groupBy(doc_id, term) for positional postings   — THE big shuffle,
     keyed on (long, string); map-side combined by Tungsten hash agg
  3. term-stat shuffle over distinct terms (vocabulary-sized)
  4. term_id bucket repartition for the storage layout
The df aggregation uses explicit two-phase salting (north_rule hot-term
skew requirement): groupBy(term, pmod(xxhash64(doc_id), S)) partial ->
final sum; AQE skew handling stays on as a backstop.

Positions are 0-based offsets in the post-stop/stem token sequence per
field (PostingIndex.java:50-64); tf == number of positions.  Each stage is
a pure function of the previous one.  The checkpointed builder
(plans/build.py) is their only composition: it materializes each stage,
can resume between them, and encodes the stored ``blocks`` table that
every query reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import AnalysisConfig, IndexConfig
from ..functions.analysis import analyze
from .ids import assign_dense_ids

DOC_KEY = ["repo", "path", "commit"]


def prepare_corpus(corpus: DataFrame, cfg: AnalysisConfig | None = None) -> DataFrame:
    """corpus(repo,path,commit,lang,content) -> + title_terms, body_terms, sha256.

    The *title* field is the tokenized ``path`` (the reference's two-field
    document model, Crawler.java:42-63); *body* is ``content``.  ``sha256``
    preserves the per-row content invariant required by BASELINE.json.
    """
    from .links import LINK_REF_PATTERN

    cfg = cfg or AnalysisConfig.full()
    return (
        corpus.withColumn("title_terms", analyze("path", cfg))
        .withColumn("body_terms", analyze("content", cfg))
        .withColumn("sha256", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
        # Metadata.pageSize analog (Metadata.java:7-12, Crawler.java:90-93):
        # byte length of the raw content, carried into the docs table
        .withColumn(
            "size_bytes",
            F.octet_length(F.coalesce(F.col("content"), F.lit(""))).cast("long"),
        )
        .withColumn(
            "refs",
            F.array_distinct(
                F.regexp_extract_all(
                    F.coalesce(F.col("content"), F.lit("")),
                    F.lit(LINK_REF_PATTERN),
                    F.lit(1),
                )
            ),
        )
    )


def with_doc_ids(
    prepared: DataFrame, cfg: IndexConfig, ids: DataFrame | None = None
) -> DataFrame:
    """Tokenized corpus + deterministic dense ``doc_id`` (drops raw content).

    ``ids``: pre-assigned id mapping (join-key columns + ``doc_id``) — the
    incremental path passes stable ids (existing keys keep theirs, new keys
    appended); omitted, dense ids are assigned over DOC_KEY order.

    ``prepared`` needs DOC_KEY + lang + sha256 + title_terms + body_terms
    (tests may hand-build the token arrays, mirroring InvertedIndexTest
    driving addDocument with explicit id lists).  Outbound link references
    (Crawler.extractLinks analog) come from ``prepare_corpus``'s ``refs``
    column when present — extracted while raw content was in hand — so the
    links stage needs no second corpus scan; the doc's own module name is
    derived from ``path`` here.

    Dense ids are assigned over the NARROW key columns only and joined
    back.  This matters twice over: the range shuffle's boundary-sampling
    pass re-executes its child plan, and column pruning cuts that child to
    a 3-column key scan (no stemmer UDF, no content bytes); and the wide
    row (token arrays) crosses the network once, in the id equi-join, not
    in the range shuffle.  At test scale AQE turns the join broadcast (ids
    are 3 strings + a long per doc) and the wide side never shuffles at
    all."""
    from .links import LINK_REF_PATTERN, module_name

    if "refs" in prepared.columns:
        refs = F.col("refs")
    elif "content" in prepared.columns:
        refs = F.array_distinct(
            F.regexp_extract_all(
                F.coalesce(F.col("content"), F.lit("")), F.lit(LINK_REF_PATTERN), F.lit(1)
            )
        )
    else:
        refs = F.array().cast("array<string>")
    size_col = (
        F.col("size_bytes") if "size_bytes" in prepared.columns
        else F.lit(0).cast("long")  # W7: missing metadata renders size 0
    )
    base = prepared.select(
        *DOC_KEY,
        "lang",
        "sha256",
        size_col.alias("size_bytes"),
        F.size("title_terms").cast("int").alias("title_len"),
        F.size("body_terms").cast("int").alias("body_len"),
        "title_terms",
        "body_terms",
        refs.alias("refs"),
        module_name(F.col("path")).alias("module"),
    )
    if ids is None:
        ids = assign_dense_ids(
            prepared.select(*DOC_KEY), DOC_KEY, "doc_id",
            num_buckets=cfg.num_term_buckets * 32,
        )
        join_key = DOC_KEY
    else:
        join_key = [c for c in ids.columns if c != "doc_id"]
    return base.join(ids, join_key).withColumn(
        "dbucket", doc_bucket_col(cfg.num_doc_buckets)
    )


def doc_bucket_col(num_doc_buckets: int):
    """Storage partition of the doc-keyed tables: round-robin over dense
    doc ids.  An upsert rewrites only the dbuckets of changed docs."""
    return F.pmod(F.col("doc_id"), F.lit(num_doc_buckets)).cast("int")


def term_bucket_col(num_term_buckets: int):
    """Storage partition of the term-keyed tables: a hash of the term
    STRING, so the driver computes it too (functions/xxhash.term_bucket)."""
    return F.pmod(F.xxhash64("term"), F.lit(num_term_buckets)).cast("int")


def positional_postings(corpus_tok: DataFrame) -> DataFrame:
    """Field-tagged explode + ONE positional group-by.

    -> (doc_id, term, title_tf, body_tf, title_pos, body_pos); this is the
    build's big shuffle (#16/#18) and deliberately the only one over token
    granularity: both fields are exploded in a single pass (field tag
    carried per token) and a single groupBy(doc_id, term) splits the
    per-field position lists via null-skipping collect_list — no
    field-level pre-aggregation, no pivot, half the shuffled rows of the
    two-stage form (measured 2x on the 100k-doc probe).  A (doc, term)
    pair exists once by construction (the reference's duplicate-insert
    error, PostingIndex.java:74-83, cannot occur)."""
    tagged = F.concat(
        F.transform(
            "title_terms",
            lambda t, i: F.struct(
                t.alias("term"), i.cast("int").alias("pos"), F.lit(0).alias("field")
            ),
        ),
        F.transform(
            "body_terms",
            lambda t, i: F.struct(
                t.alias("term"), i.cast("int").alias("pos"), F.lit(1).alias("field")
            ),
        ),
    )
    tokens = corpus_tok.select("doc_id", F.explode(tagged).alias("e")).select(
        "doc_id", F.col("e.term").alias("term"), F.col("e.pos").alias("pos"),
        F.col("e.field").alias("field"),
    )
    return (
        tokens.groupBy("doc_id", "term")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("field") == 0, F.col("pos")))
            ).alias("title_pos"),
            F.sort_array(
                F.collect_list(F.when(F.col("field") == 1, F.col("pos")))
            ).alias("body_pos"),
        )
        .select(
            "doc_id",
            "term",
            F.size("title_pos").cast("int").alias("title_tf"),
            F.size("body_pos").cast("int").alias("body_tf"),
            "title_pos",
            "body_pos",
        )
    )


def term_stats(postings: DataFrame, keys: list[str], salt_buckets: int) -> DataFrame:
    """df/cf/max_tf per term, the term identified by ``keys`` (``["term"]``
    in the build, ``["term_id", "bucket"]`` in the upsert).

    df = docs containing the term in title OR body (PostingIndex.java:177-182).
    Explicit two-phase salting bounds any single reducer's rows for hot terms
    to ~df/S (north_rule); count, sum and max recombine exactly."""
    tf = F.col("title_tf") + F.col("body_tf")
    salted = postings.groupBy(
        *keys, F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)).alias("_salt")
    ).agg(
        F.count("*").alias("_df_part"),
        F.sum(tf).alias("_cf_part"),
        F.max(tf).alias("_max_tf_part"),
    )
    return salted.groupBy(*keys).agg(
        F.sum("_df_part").cast("long").alias("df"),
        F.sum("_cf_part").cast("long").alias("cf"),
        F.max("_max_tf_part").cast("int").alias("max_tf"),
    )


def build_vocab(merged: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Dictionary encoding + salted df/cf/max_tf term statistics.

    The storage ``bucket`` hashes the term STRING (not the term id): the
    driver can then compute a query term's bucket locally
    (functions/xxhash.py is bit-identical to F.xxhash64), so both the vocab
    dictionary lookup AND the postings/blocks scans partition-prune with no
    prior lookup job.
    """
    vocab = assign_dense_ids(
        term_stats(merged, ["term"], cfg.salt_buckets), ["term"], "term_id",
        num_buckets=cfg.num_term_buckets * 4,
    )
    return vocab.select(
        "term_id",
        "term",
        "df",
        "cf",
        "max_tf",
        term_bucket_col(cfg.num_term_buckets).alias("bucket"),
    )


def encode_postings(merged: DataFrame, vocab: DataFrame, cfg: IndexConfig) -> DataFrame:
    """term -> term_id + storage bucket; final posting rows."""
    return merged.join(vocab.select("term_id", "term", "bucket"), "term").select(
        "term_id", "doc_id", "bucket", "title_tf", "body_tf", "title_pos", "body_pos"
    )


def build_docs(
    corpus_tok: DataFrame, postings: DataFrame, vocab: DataFrame | None = None,
    n_docs: int = 0, with_norms: bool = True,
) -> DataFrame:
    """Doc table with tf_max (InvertedIndex.java:38-54) and the reference
    cosine norm ||d|| = sqrt(Σ_t ((titleTF+bodyTF)·idf_t / tfMax_d)²) —
    UNWEIGHTED tf in the norm, the deliberate numerator/denominator
    asymmetry of InvertedIndex.java:69-95.  Precomputed at build time (the
    reference recomputed it per query per candidate — SURVEY §4.1
    anti-pattern).

    ``with_norms=False`` (IndexConfig.reference_norms) omits the doc_norm
    column and its postings⋈vocab pass entirely (``vocab`` and ``n_docs``
    are then unused) — BM25 needs only len_d = title_len + body_len; the
    docs table then has no global-statistics column, which is what lets
    the incremental upsert build only the fresh docs' rows."""
    if not with_norms:
        tf_max = postings.groupBy("doc_id").agg(
            F.max(F.col("title_tf") + F.col("body_tf")).cast("int").alias("tf_max")
        )
        return (
            corpus_tok.drop("title_terms", "body_terms", "refs", "module")
            .join(tf_max, "doc_id", "left")
            .fillna({"tf_max": 0})
        )
    # tf_max factors out of the norm (w = tf·idf/tf_max is per-doc-constant
    # in the denominator): ||d|| = sqrt(Σ (tf·idf)²) / tf_max — so ONE
    # postings pass computes both per-doc stats in a single partial->final
    # aggregate, instead of a tf_max agg + a second postings⋈tf_max join.
    #
    # The squares sum in DECIMAL(38,18): decimal addition is exact, so the
    # sum is order-independent and the build stays bit-identical regardless
    # of parallelism (resume/upsert byte-identity and the invariance test
    # depend on it) — float addition is non-associative and would drift by
    # ULPs across shuffle widths.  Unlike the round-2 sorted collect_list
    # fold, a plain sum is partial-aggregable: the shuffle carries one row
    # per doc per map partition instead of every (doc, term) square.
    # Truncation at 1e-18 per term is ~1e-15 relative on the norm — far
    # inside every conformance tolerance (goldens 1e-10, oracle rtol 1e-9).
    #
    # no forced broadcast: at code-corpus scale the vocabulary (identifiers)
    # can be 10^8+ terms; AQE picks broadcast automatically when it fits
    w_raw = (F.col("title_tf") + F.col("body_tf")) * F.log10(
        F.lit(float(n_docs)) / F.col("df")
    )
    w2 = (w_raw * w_raw).cast("decimal(38,18)")
    per_doc = (
        postings.join(vocab.select("term_id", "df"), "term_id")
        .groupBy("doc_id")
        .agg(
            F.max(F.col("title_tf") + F.col("body_tf")).cast("int").alias("tf_max"),
            F.sum(w2).alias("_s2raw"),
            # decimal(38,18) caps a single square at 1e20 (tf*idf < 1e10 —
            # any real document is orders of magnitude inside it); a cast
            # overflow becomes NULL, and F.sum would SILENTLY skip it, so
            # count overflows in the same aggregate and poison the norm to
            # NULL — the builder's post-stage validation then fails LOUDLY
            # (the connected_components never-silently-partial posture)
            F.sum(
                F.when(w2.isNull() & w_raw.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("_n_overflow"),
        )
        .select(
            "doc_id",
            "tf_max",
            F.when(
                F.col("_n_overflow") == 0,
                F.sqrt(F.col("_s2raw").cast("double")) / F.col("tf_max"),
            ).alias("doc_norm"),
        )
    )
    return (
        corpus_tok.drop("title_terms", "body_terms", "refs", "module")
        .join(per_doc, "doc_id", "left")
        .fillna({"tf_max": 0})
        # docs with NO postings get norm 0.0 (empty doc); docs whose norm
        # overflowed keep NULL for validate_docs_norms to catch
        .withColumn(
            "doc_norm",
            F.when(F.col("tf_max") == 0, F.lit(0.0)).otherwise(F.col("doc_norm")),
        )
    )


def validate_docs_norms(docs: DataFrame) -> None:
    """Raise if any doc with postings has a NULL cosine norm — the loud
    failure mode for a decimal-overflow term weight (build_docs); one
    narrow column-pruned scan."""
    if "doc_norm" not in docs.columns:
        return
    bad = docs.where(F.col("doc_norm").isNull() & (F.col("tf_max") > 0)).count()
    if bad:
        raise RuntimeError(
            f"build_docs: {bad} doc(s) overflowed the decimal(38,18) norm "
            "accumulator (a term with tf*idf >= 1e10 — a degenerate "
            "repeated-token blob); filter such documents out or build with "
            "IndexConfig(reference_norms=False)"
        )


def doc_lengths(corpus_tok: DataFrame) -> DataFrame:
    """(doc_id, len_d = title_len + body_len): the BM25 length that
    ``blocks`` stores per posting."""
    return corpus_tok.select(
        "doc_id", (F.col("title_len") + F.col("body_len")).alias("len_d")
    )


def build_stats(docs: DataFrame, cfg: IndexConfig | None = None) -> DataFrame:
    """Corpus aggregates + the physical-layout constants
    (``num_term_buckets``, ``num_doc_buckets``) so a query engine computes
    term buckets driver-side and an upsert pins the stored layout — neither
    trusts out-of-band config."""
    cfg = cfg or IndexConfig()
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.avg("title_len").alias("avg_title_len"),
        F.avg("body_len").alias("avg_body_len"),
        F.avg(F.col("title_len") + F.col("body_len")).alias("avg_doc_len"),
        F.lit(cfg.num_term_buckets).alias("num_term_buckets"),
        F.lit(cfg.num_doc_buckets).alias("num_doc_buckets"),
    )


def forward_frame(postings: DataFrame, num_doc_buckets: int = 8,
                  shuffle_partitions: int | None = None) -> DataFrame:
    """Forward index doc_id -> sorted (term_id, tf) entries, the map-5
    analog (InvertedIndex.java:17,33) — feeds top-5-keywords display
    (Indexer.java:196-203, SearchResult.java:33-44) and, in the
    incremental path, the changed docs' old-term lookup.

    ``shuffle_partitions`` sizes THIS stage's groupBy exchange by data
    volume instead of the session conf (directive r4-7: collect_list has
    no map-side combine — every posting row crosses the wire and the
    reduce side buffers whole per-doc lists, so per-task row count, not
    core count, is what must stay flat as the corpus grows).  The
    explicit ``repartition(n, doc_id)`` satisfies the aggregation's
    required distribution, so it IS the stage's only shuffle, with a
    data-derived width the builder computes from the manifest's postings
    row count."""
    if shuffle_partitions:
        postings = postings.repartition(int(shuffle_partitions), "doc_id")
    return postings.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("term_id"), (F.col("title_tf") + F.col("body_tf")).alias("tf")
                )
            )
        ).alias("term_tfs")
    ).withColumn("dbucket", doc_bucket_col(num_doc_buckets))
