"""Web-graph operators (LinkIndexer analog, LinkIndexer.java:12-135).

Mirrors LinkIndexerTest.java:37-110 shapes: tree, graph, self-loop,
parent/child symmetry — re-expressed over the import-reference edge table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.operators import links as L
from web_based_search_engine_spark.operators import postings as P

CFG = IndexConfig(num_term_buckets=2, block_size=8)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, fixtures.CORPUS_SCHEMA)


def _ids(corpus_tok):
    return {
        r["path"]: r["doc_id"] for r in corpus_tok.select("path", "doc_id").collect()
    }


def _tok(spark, rows):
    return P.with_doc_ids(P.prepare_corpus(_corpus(spark, rows)), CFG)


def test_extract_refs_patterns(spark):
    rows = [
        ("r", "a.py", "c", "py",
         "import foo_mod from bar-mod include baz_1 require qux plain words"),
        ("r", "b.py", "c", "py", "no links here"),
    ]
    refs = L.extract_refs(_corpus(spark, rows))
    got = {
        r["path"]: sorted(
            x["ref"] for x in refs.where(F.col("path") == r["path"]).collect()
        )
        for r in refs.select("path").distinct().collect()
    }
    assert got == {"a.py": ["bar-mod", "baz_1", "foo_mod", "qux"]}


def test_tree_graph_edges_and_symmetry(spark):
    # a -> b, a -> c, b -> c ; d self-imports (dropped) ; e imports nothing
    rows = [
        ("r", "src/a.py", "c", "py", "import b import c"),
        ("r", "src/b.py", "c", "py", "import c"),
        ("r", "src/c.py", "c", "py", "leaf"),
        ("r", "src/d.py", "c", "py", "import d"),
        ("r", "src/e.py", "c", "py", "nothing"),
    ]
    tok = _tok(spark, rows)
    ids = _ids(tok)
    edges = {
        (r["src_doc_id"], r["dst_doc_id"])
        for r in L.links_from_corpus_tok(tok).collect()
    }
    a, b, c = ids["src/a.py"], ids["src/b.py"], ids["src/c.py"]
    assert edges == {(a, b), (a, c), (b, c)}  # self-loop d->d dropped

    links = L.links_from_corpus_tok(tok)
    outs = {r["doc_id"]: r["child_ids"] for r in L.out_neighbors(links).collect()}
    ins = {r["doc_id"]: r["parent_ids"] for r in L.in_neighbors(links).collect()}
    assert outs[a] == sorted([b, c]) and outs[b] == [c]
    assert ins[c] == sorted([a, b]) and ins[b] == [a]
    # parent/child symmetry (LinkIndexerTest invariant)
    for s, d in edges:
        assert d in outs[s] and s in ins[d]

    deg = {r["doc_id"]: (r["in_degree"], r["out_degree"])
           for r in L.degree_table(links).collect()}
    assert deg[a] == (0, 2) and deg[b] == (1, 1) and deg[c] == (2, 0)


def test_links_frame_matches_corpus_tok_path(spark):
    """The standalone links_frame (raw content scan) and the build-time
    links_from_corpus_tok (refs column) agree on the fixture corpus."""
    corpus = fixtures.corpus_df(spark, 120, num_partitions=2)
    tok = P.with_doc_ids(P.prepare_corpus(corpus), CFG)
    with_content = corpus.join(
        tok.select("repo", "path", "commit", "doc_id"), ["repo", "path", "commit"]
    )
    e1 = {(r["src_doc_id"], r["dst_doc_id"]) for r in L.links_frame(with_content).collect()}
    e2 = {(r["src_doc_id"], r["dst_doc_id"])
          for r in L.links_from_corpus_tok(tok).collect()}
    assert e1 == e2
    assert e1, "fixture corpus should produce a non-empty import graph"


def test_fixture_graph_matches_python_oracle(spark):
    """Spark extraction + resolution == a pure-Python oracle applying the
    same regex and module-resolution rule to the same corpus rows."""
    import re

    n = 90
    rows = fixtures.corpus_rows(n)
    corpus = fixtures.corpus_df(spark, n)
    tok = P.with_doc_ids(P.prepare_corpus(corpus), CFG)
    key_to_id = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in tok.select("repo", "path", "doc_id").collect()
    }
    mod_re = re.compile(r"([^/]+?)(?:\.[A-Za-z0-9]+)?$")
    module_to_ids: dict[str, set[int]] = {}
    for repo, path, _c, _l, _content in rows:
        m = mod_re.search(path).group(1)
        module_to_ids.setdefault(m, set()).add(key_to_id[(repo, path)])
    expected = set()
    for repo, path, _c, _l, content in rows:
        src = key_to_id[(repo, path)]
        for ref in set(re.findall(L.LINK_REF_PATTERN, content)):
            for dst in module_to_ids.get(ref, ()):
                if dst != src:
                    expected.add((src, dst))
    got = {(r["src_doc_id"], r["dst_doc_id"])
           for r in L.links_from_corpus_tok(tok).collect()}
    assert got == expected
    assert expected, "oracle graph should be non-empty"


def test_prefix_group_links_star(spark):
    docs = spark.createDataFrame(
        [
            (1, ["x", "y", "z", "w", "p"]),
            (2, ["x", "y", "z", "w", "q"]),   # same 4-prefix as 1
            (3, ["x", "y", "z", "w"]),        # same 4-prefix as 1
            (4, ["a", "b"]),                  # lone prefix -> no edges
            (5, ["a", "b"]),                  # pairs with 4 (short prefix)
        ],
        "doc_id long, toks array<string>",
    )
    edges = {(r["src_doc_id"], r["dst_doc_id"])
             for r in L.prefix_group_links(docs, "doc_id", "toks", k=4).collect()}
    assert edges == {(1, 2), (1, 3), (4, 5)}


def test_builder_links_stage_and_assembly(spark, built_index):
    from web_based_search_engine_spark.plans.query import QueryEngine

    storage = built_index["storage"]
    assert storage.has_table("links")
    links = storage.read_table(spark, "links")
    assert links.count() > 0

    qe = QueryEngine(spark, storage)
    out = qe.search("searching engines", k=5).collect()
    assert out and "parent_ids" in out[0].asDict() and "child_ids" in out[0].asDict()
    # any doc with children must have itself as a parent of each child
    ins = {r["doc_id"]: set(r["parent_ids"])
           for r in L.in_neighbors(links).collect()}
    for row in out:
        for child in (row["child_ids"] or []):
            assert row["doc_id"] in ins[child]
    # neighbor ids are decoded to paths (buildSearchResult parity,
    # Indexer.java:194-231): aligned with the id lists, values from docs
    docs = storage.read_table(spark, "docs")
    path_of = {r["doc_id"]: r["path"] for r in docs.select("doc_id", "path").collect()}
    saw_neighbor = False
    for row in out:
        for ids_col, paths_col in (("parent_ids", "parent_paths"),
                                   ("child_ids", "child_paths")):
            ids, paths = row[ids_col], row[paths_col]
            if ids:
                saw_neighbor = True
                assert paths is not None and len(paths) == len(ids)
                assert [path_of[i] for i in ids] == list(paths)
    assert saw_neighbor, "query should hit at least one linked doc"


def test_pagerank_empty_graph_returns_empty(spark):
    """A corpus with no cross-references has an empty link table — the
    ranking is empty, not a ZeroDivisionError."""
    from web_based_search_engine_spark.operators.links import pagerank

    edges = spark.createDataFrame([], "src_doc_id long, dst_doc_id long")
    out = pagerank(edges, 0.85, n_iter=3)
    assert out.columns == ["doc_id", "rank"] and out.count() == 0


def test_pagerank_matches_reference_power_iteration(spark):
    """Spark pagerank vs an independent driver-side power iteration on a
    hand graph with a dangling node (3 has no out-edges)."""
    from web_based_search_engine_spark.operators.links import pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (4, 1), (4, 3)]
    edges = spark.createDataFrame(edge_list, "src_doc_id long, dst_doc_id long")
    got = {r["doc_id"]: r["rank"] for r in pagerank(edges, 0.85, n_iter=10).collect()}

    nodes = sorted({x for e in edge_list for x in e})
    n = len(nodes)
    out = {}
    for s, _ in edge_list:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        dangling = sum(r for v, r in rank.items() if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, d in edge_list:
            contrib[d] += rank[s] / out[s]
        rank = {
            v: (1.0 - 0.85) / n + 0.85 * (contrib[v] + dangling / n) for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_no_dangling_cycle_and_knob_validation(spark):
    """Round-3 review findings: (a) with zero dangling nodes the derived
    dangling mass (1 - sum(contrib)) must clamp at 0 so no rank lands
    below the (1-d)/n teleport floor; (b) checkpoint_every < 1 must raise
    before any cluster work."""
    import pytest

    from web_based_search_engine_spark.operators.links import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src_doc_id long, dst_doc_id long"
    )
    got = {r["doc_id"]: r["rank"] for r in pagerank(edges, 0.85, n_iter=10).collect()}
    floor = (1 - 0.85) / 3
    assert all(v >= floor - 1e-15 for v in got.values())
    # symmetric 3-cycle: exact uniform fixpoint
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-12
    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank(edges, checkpoint_every=0)


def test_pagerank_tol_early_exit(spark):
    """Directive r4-8: with ``tol`` set, a converged graph stops BEFORE
    n_iter (the symmetric 3-cycle hits its uniform fixpoint after one
    update), ranks land within tol of the fixed-count run, and tol=None
    keeps exact n_iter semantics (no delta ever computed)."""
    import pytest

    from web_based_search_engine_spark.operators.links import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src_doc_id long, dst_doc_id long"
    )
    stats = {}
    got = {
        r["doc_id"]: r["rank"]
        for r in pagerank(edges, 0.85, n_iter=50, tol=1e-12, stats=stats).collect()
    }
    assert stats["iterations"] < 50, stats  # converged early
    assert stats["final_delta"] is not None and stats["final_delta"] < 1e-12
    exact = {
        r["doc_id"]: r["rank"] for r in pagerank(edges, 0.85, n_iter=50).collect()
    }
    for v in got:
        assert abs(got[v] - exact[v]) < 1e-12, (v, got[v], exact[v])
    # tol=None: exact n_iter semantics, delta never computed
    stats_fixed = {}
    pagerank(edges, 0.85, n_iter=4, stats=stats_fixed).collect()
    assert stats_fixed == {"iterations": 4, "final_delta": None}
    with pytest.raises(ValueError, match="tol"):
        pagerank(edges, tol=0.0)


def test_links_frame_needs_no_distinct(spark):
    """The edge join's output is already a set: refs are array_distinct per
    source and each target has exactly one module name, so dropping the
    former .distinct() pass (a full edge-wide shuffle) must not change the
    row MULTISET — pinned here so a future refs-extraction change that
    introduces duplicates fails loudly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.operators.links import links_frame

    corpus = fixtures.corpus_df(spark, 500)
    ids = corpus.withColumn(
        "doc_id", F.row_number().over(Window.orderBy("repo", "path", "commit"))
    )
    edges = links_frame(ids.select("doc_id", "path", "content")).persist()
    assert edges.count() == edges.distinct().count()
    assert edges.count() > 0
    edges.unpersist()


def test_links_fanout_cap_and_stats(spark):
    """max_targets_per_module keeps the cap lowest dst ids per module
    (deterministic min-id tiebreak) and module_fanout_stats surfaces
    exactly what the cap drops."""
    import pytest

    from web_based_search_engine_spark.operators.links import (
        links_frame,
        links_from_corpus_tok,
        module_fanout_stats,
    )

    # 3 docs all named util.py (ambiguous module), one referencing doc
    rows = [
        (1, "a/util.py", "pass"),
        (2, "b/util.py", "pass"),
        (3, "c/util.py", "pass"),
        (4, "d/main.py", "import util"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, path string, content string")
    exact = {(r["src_doc_id"], r["dst_doc_id"])
             for r in links_frame(corpus).collect()}
    assert exact == {(4, 1), (4, 2), (4, 3)}
    capped = {(r["src_doc_id"], r["dst_doc_id"])
              for r in links_frame(corpus, max_targets_per_module=2).collect()}
    assert capped == {(4, 1), (4, 2)}  # lowest dst ids survive

    # corpus_tok variant + stats
    tok = corpus.selectExpr(
        "doc_id",
        "case when doc_id = 4 then array('util') else array() end as refs",
        "regexp_extract(path, '([^/]+?)(\\\\.[A-Za-z0-9]+)?$', 1) as module",
    )
    capped2 = {(r["src_doc_id"], r["dst_doc_id"])
               for r in links_from_corpus_tok(tok, 1).collect()}
    assert capped2 == {(4, 1)}
    st = module_fanout_stats(tok, cap=2).collect()[0]
    assert st["n_modules"] == 2  # util, main
    assert st["n_ambiguous_modules"] == 1
    assert st["max_fanout"] == 3
    assert st["n_targets_dropped"] == 1  # util has 3 targets, cap 2

    with pytest.raises(ValueError, match="max_targets_per_module"):
        links_frame(corpus, max_targets_per_module=0).collect()


def test_builder_honors_links_fanout_cap(spark, tmp_path):
    """IndexConfig.links_max_targets_per_module must reach the build's
    links stage (wiring test): a cap-1 build stores strictly fewer edges
    than the exact build on a fixture with ambiguous module names, and
    every module keeps exactly its lowest-id target."""
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.plans.build import IndexBuilder
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

    base = fixtures.corpus_df(spark, 120, num_partitions=2)
    # duplicate every path under a second repo namespace: every module
    # name becomes ambiguous (exactly 2 targets), so cap=1 must bite
    corpus = base.unionByName(
        base.withColumn("repo", F.concat(F.col("repo"), F.lit("-mirror")))
    )
    exact_st = ParquetIndexStorage(str(tmp_path / "exact"))
    IndexBuilder(spark, exact_st, CFG).build(corpus)
    exact = {(r["src_doc_id"], r["dst_doc_id"])
             for r in exact_st.read_table(spark, "links").collect()}

    from dataclasses import replace
    capped_cfg = replace(CFG, links_max_targets_per_module=1)
    cap_st = ParquetIndexStorage(str(tmp_path / "capped"))
    IndexBuilder(spark, cap_st, capped_cfg).build(corpus)
    capped = {(r["src_doc_id"], r["dst_doc_id"])
              for r in cap_st.read_table(spark, "links").collect()}

    assert capped < exact  # strictly fewer on the ambiguous fixture
    # per (src, module) the kept dst must be the minimum of exact's dsts —
    # module identity recovered from the docs table path
    path_of = {r["doc_id"]: r["path"]
               for r in exact_st.read_table(spark, "docs").collect()}
    import re
    mod = lambda p: re.search(r"([^/]+?)(?:\.[A-Za-z0-9]+)?$", p).group(1)
    from collections import defaultdict
    exact_by_key, capped_by_key = defaultdict(set), defaultdict(set)
    for s, d in exact:
        exact_by_key[(s, mod(path_of[d]))].add(d)
    for s, d in capped:
        capped_by_key[(s, mod(path_of[d]))].add(d)
    for key, dsts in capped_by_key.items():
        assert dsts == {min(exact_by_key[key])}, key

    # the cap's contract: truncation is surfaced in the manifest metrics
    fan = [m for m in cap_st.manifest()["metrics"]
           if m.get("stage") == "links_fanout_cap"]
    assert len(fan) == 1
    assert fan[0]["cap"] == 1 and fan[0]["n_targets_dropped"] > 0
    assert fan[0]["n_ambiguous_modules"] > 0
    # and an uncapped build records no such metric
    assert not [m for m in exact_st.manifest()["metrics"]
                if m.get("stage") == "links_fanout_cap"]
