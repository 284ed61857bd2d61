"""Serving-engine concurrency contracts (VERDICT r4 directive 2 + ADVICE
r4 high, plus directive 4's candidate block skipping).

One engine, one threaded server process: N in-flight queries must not
unpersist each other's pinned block sets (PersistPool), a snapshot
refresh must cut over atomically (a search sees ONE committed snapshot,
never a mix, and its late cache write-backs cannot poison the new
snapshot's caches), and the candidate block skip must be lossless.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.plans.build import IndexBuilder
from web_based_search_engine_spark.plans.query import QueryEngine, parse_query
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage
from web_based_search_engine_spark.streaming.incremental import incremental_update


def _rows(df):
    return sorted((r["doc_id"], round(r["score"], 9)) for r in df.collect())


def test_concurrent_queries_match_serial_no_midflight_unpersist(spark, built_index, force_prune):
    """Directive r4-2: >=8 concurrent phrase+term queries through ONE
    engine (forced WAND pruning so every query pins a block
    set) return exactly the serial results, and the instrumented
    PersistPool records ZERO evictions — no in-flight query's pinned
    blocks are unpersisted by another."""
    force_prune()
    qe = QueryEngine(spark, built_index["storage"])
    shapes = [
        'searching "engines retrieval"',
        "posting merge",
        "search engin index",
        "retrieval engines",
        '"engines retrieval" search',
        "index",
        "sort merge posting",
        "engin search",
    ]
    serial = [_rows(qe.search(q, k=10, assemble=False)) for q in shapes]
    pool = qe._persist_registry
    pool.release_all()  # start the concurrent phase with an empty pool
    assert pool.evictions == 0 and len(pool) == 0

    with ThreadPoolExecutor(max_workers=8) as ex:
        concurrent = list(
            ex.map(lambda q: _rows(qe.search(q, k=10, assemble=False)), shapes)
        )
    assert concurrent == serial
    # capacity 8 >= 8 in-flight queries: nothing was evicted mid-flight,
    # and pinned storage stays bounded at the pool capacity
    assert pool.evictions == 0
    assert len(pool) <= pool.capacity


_CFG = IndexConfig(num_term_buckets=2, block_size=8)


def _mini(spark, rows):
    return spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA)


def test_search_concurrent_with_refresh(spark, tmp_path):
    """ADVICE r4 high: searches racing refresh().  Every result observed
    by a concurrent searcher must equal SOME committed snapshot's answer
    (old or new — never a mix of the two), phrase queries included, and
    once the refreshes quiesce every query reflects the newest snapshot
    (no stale cache write-back survives the cutover)."""
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, _CFG).build(_mini(spark, [
        ("r/a", "f1.py", "c1", "py", "alpha beta alpha common"),
        ("r/a", "f2.py", "c1", "py", "gamma delta common"),
    ]))
    qe = QueryEngine(spark, storage)

    # valid per-snapshot answers for the two racing query shapes
    valid_alpha = [{"f1.py"}]           # snapshot 0
    valid_phrase = [{"f1.py"}]          # "alpha beta" never changes
    upserts = [
        ("r/a", "f3.py", "c1", "py", "alpha epsilon common"),
        ("r/a", "f4.py", "c1", "py", "alpha zeta common"),
        ("r/a", "f5.py", "c1", "py", "alpha eta common"),
    ]
    acc = {"f1.py"}
    for row in upserts:
        acc = acc | {row[1]}
        valid_alpha.append(set(acc))
        valid_phrase.append({"f1.py"})

    stop = threading.Event()
    observed_alpha: list[frozenset] = []
    observed_phrase: list[frozenset] = []
    errors: list[BaseException] = []

    def hammer(shape: str, sink: list):
        try:
            while not stop.is_set():
                got = frozenset(
                    r["path"] for r in qe.search(shape, k=50).collect()
                )
                sink.append(got)
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    threads = [
        threading.Thread(target=hammer, args=("alpha", observed_alpha)),
        threading.Thread(target=hammer, args=("alpha", observed_alpha)),
        threading.Thread(target=hammer, args=('"alpha beta"', observed_phrase)),
        threading.Thread(target=hammer, args=('common "alpha beta"', observed_phrase)),
    ]
    for t in threads:
        t.start()
    try:
        for row in upserts:
            incremental_update(spark, storage, _mini(spark, [row]), _CFG)
            qe.refresh()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)
    assert not errors, errors
    assert observed_alpha and observed_phrase  # searchers actually ran
    bad = [s for s in observed_alpha if set(s) not in valid_alpha]
    assert not bad, f"mixed-snapshot answers: {bad[:3]}"
    assert set(observed_phrase) <= {frozenset({"f1.py"})}
    # quiesced: the engine serves the NEWEST snapshot, not a stale cache
    assert {r["path"] for r in qe.search("alpha", k=50).collect()} == valid_alpha[-1]
    assert {r["path"] for r in qe.search('"alpha beta"', k=50).collect()} == {"f1.py"}
    assert qe.n_docs == 2 + len(upserts)


def _needle_index(spark, tmp_path) -> ParquetIndexStorage:
    """200 docs that all hold the hot term ``common``; only 4 of them
    (every 50th) hold the phrase "needle haystack"."""
    rows = []
    for i in range(200):
        needle = "needle haystack" if i % 50 == 0 else "filler"
        rows.append(("r/a", f"f{i}.py", "c1", "py",
                     f"common token{i % 17} {needle} common"))
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, _CFG).build(_mini(spark, rows))
    return storage


def test_candidate_block_skipping_lossless_and_engaged(spark, tmp_path, force_prune):
    """Directive r4-4: with a selective phrase candidate set in hand, WAND
    skips blocks whose [first_doc_id, last_doc_id] span holds no candidate
    BEFORE decode — decoded_blocks shrinks, results bit-identical.

    Corpus (``_needle_index``): every doc contains the hot term, only 4
    docs contain the phrase.  The containment semi-join bounds decoded
    blocks per term at |candidates| regardless of where doc ids landed,
    so the shrink assertion is deterministic: decoded <= 4 * n_terms <<
    candidate blocks (~200/8 per term)."""
    storage = _needle_index(spark, tmp_path)

    stats: dict = {}
    qe = QueryEngine(spark, storage)
    got = qe.search('common "needle haystack"', k=20, assemble=False,
                    wand_stats=stats)
    got_rows = _rows(got)
    assert len(got_rows) == 4
    assert stats["decoded_blocks"] <= 4 * 3  # terms: common, needle, haystack
    assert stats["decoded_blocks"] < stats["candidate_blocks"]

    # lossless: identical (doc_id, score) to scoring every block of the
    # query terms and filtering to the phrase docs AFTERWARDS, with no
    # block skipping at all
    force_prune(False)
    qx = QueryEngine(spark, storage)
    phrase_ids = {r["doc_id"] for r in qx.phrase_search(
        ["needle", "haystack"], k=1000, assemble=False).collect()}
    unfiltered = qx.search_terms(
        parse_query('common "needle haystack"').keywords, k=1000, assemble=False
    ).collect()
    assert got_rows == sorted(
        (r["doc_id"], round(r["score"], 9)) for r in unfiltered if r["doc_id"] in phrase_ids
    )

    # forced-prune path takes the same skip (stats report the pruned shape)
    stats_p: dict = {}
    force_prune()
    qp = QueryEngine(spark, storage)
    assert got_rows == _rows(
        qp.search('common "needle haystack"', k=20, assemble=False,
                  wand_stats=stats_p)
    )
    assert stats_p["pruned"] is True
    assert stats_p["decoded_blocks"] < stats_p["candidate_blocks"]


def test_candidate_range_skip_above_exact_cap(spark, tmp_path, force_prune, monkeypatch):
    """Above CANDIDATE_EXACT_SKIP_CAP only the [first_doc_id, last_doc_id]
    range filter skips blocks.  With the cap at 0, the 4-doc phrase set of
    ``_needle_index`` takes that path on both the exhaustive and the
    forced-prune decode: the rows equal the exact-skip run's and those of
    scoring every block and filtering afterwards, and the exhaustive
    decode reads every block whose span overlaps the set's id range — at
    least as many as the exact skip, and every block holding a candidate."""
    from web_based_search_engine_spark.operators import wand as W

    storage = _needle_index(spark, tmp_path)
    q = 'common "needle haystack"'
    qe = QueryEngine(spark, storage)
    keywords = parse_query(q).keywords
    phrase_ids = {r["doc_id"] for r in qe.phrase_search(
        ["needle", "haystack"], k=1000, assemble=False).collect()}
    force_prune(False)
    filtered = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in qe.search_terms(keywords, k=1000, assemble=False).collect()
        if r["doc_id"] in phrase_ids
    )
    assert len(filtered) == 4

    def run(cap: int) -> tuple[list, dict]:
        monkeypatch.setattr(W, "CANDIDATE_EXACT_SKIP_CAP", cap)
        stats: dict = {}
        return _rows(qe.search(q, k=20, assemble=False, wand_stats=stats)), stats

    exact_cap = W.CANDIDATE_EXACT_SKIP_CAP
    assert len(phrase_ids) <= exact_cap
    for prune in (True, False):
        force_prune(prune)
        exact_rows, exact = run(exact_cap)
        range_rows, ranged = run(0)
        assert range_rows == exact_rows == filtered, prune
        assert exact["pruned"] is ranged["pruned"] is prune

    tids = {r["term_id"] for r in qe._lookup_cached(keywords)}
    lo, hi = min(phrase_ids), max(phrase_ids)
    term_blocks = [
        r for r in storage.read_table(spark, "blocks")
        .select("term_id", "first_doc_id", "last_doc_id", "doc_ids").collect()
        if r["term_id"] in tids
    ]
    overlapping = sum(r["last_doc_id"] >= lo and r["first_doc_id"] <= hi for r in term_blocks)
    holding = sum(bool(phrase_ids & set(r["doc_ids"])) for r in term_blocks)
    # the exhaustive decode (the last loop pass) skips no block the
    # candidates touch
    assert holding <= exact["decoded_blocks"] <= ranged["decoded_blocks"] == overlapping


def test_wide_prune_with_candidates_seeds_from_surviving_blocks(spark, tmp_path, force_prune):
    """ADVICE r5 high: the pruned (metadata-only) layout picked its seed
    blocks among those holding each term's GLOBAL max_wtf, after candidate
    skipping had removed them, and returned 0 rows.  Here every query
    term's global-max blocks sit in 40 early docs (high tf, no phrase);
    only the last 4 of 160 later docs hold the phrase, so candidate
    skipping keeps none of the global-max blocks.  Forced pruning must
    return the same 4 rows as the exhaustive engine, and report its
    evidence."""
    rows = [("r/a", f"a{i:03d}.py", "c1", "py",
             "haystack haystack haystack needle needle needle common common common")
            for i in range(40)]
    rows += [("r/a", f"b{i:03d}.py", "c1", "py",
              "common needle haystack" if i >= 156 else f"common filler{i}")
             for i in range(160)]
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, _CFG).build(_mini(spark, rows))
    q = 'common "needle haystack"'

    force_prune(False)
    exhaustive = _rows(QueryEngine(spark, storage).search(q, k=20, assemble=False))
    stats: dict = {}
    force_prune()
    pruned = _rows(QueryEngine(spark, storage)
                   .search(q, k=20, assemble=False, wand_stats=stats))
    assert len(exhaustive) == 4
    assert pruned == exhaustive
    assert stats["pruned"] is True
    assert 0 < stats["decoded_blocks"] < stats["candidate_blocks"], stats


def test_vacuum_drop_abandoned_tables(spark, tmp_path):
    """ADVICE r4 low: a tables/ directory dropped from (or never committed
    to) the manifest is reclaimed only under drop_abandoned=True."""
    storage = ParquetIndexStorage(tmp_path / "idx")
    IndexBuilder(spark, storage, _CFG).build(_mini(spark, [
        ("r/a", "f1.py", "c1", "py", "alpha beta"),
    ]))
    orphan = tmp_path / "idx" / "tables" / "zombie" / "v1"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").write_bytes(b"x" * 128)

    stats = storage.vacuum(keep_last=1)
    assert "zombie (abandoned)" not in stats
    assert orphan.exists()  # default: left alone (mid-commit writer safety)

    stats = storage.vacuum(keep_last=1, drop_abandoned=True)
    assert stats["zombie (abandoned)"]["files_unlinked"] == 1
    assert not orphan.parent.exists()
    # listed tables untouched: the index still serves
    assert QueryEngine(spark, storage).search(
        "alpha", assemble=False
    ).count() == 1
