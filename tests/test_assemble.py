"""Assembled SearchResult rows (plans/query.py ``_assemble``).

The values are checked against a pandas reference computed straight from
the stored ``docs``, ``forward``, ``vocab`` and ``links`` tables; the
ranking itself is the engine's ``assemble=False`` output (rank identity is
tests/test_rank_identity.py's job).  A second test pins the job
accounting: every Spark job an assembled search runs, including those the
assembly runs from helper threads, stays in the caller's job group.
"""

from __future__ import annotations

import uuid

import pandas as pd
import pytest

from web_based_search_engine_spark.plans.query import QueryEngine

# names, order and Spark types of an assembled row
RESULT_COLUMNS = [
    ("doc_id", "bigint"), ("repo", "string"), ("path", "string"),
    ("commit", "string"), ("lang", "string"), ("title_len", "int"),
    ("body_len", "int"), ("sha256", "string"), ("size_bytes", "bigint"),
    ("score", "double"), ("keywords", "array<struct<tf:int,term:string>>"),
    ("parent_ids", "array<bigint>"), ("parent_paths", "array<string>"),
    ("child_ids", "array<bigint>"), ("child_paths", "array<string>"),
]
META = ["doc_id", "repo", "path", "commit", "lang", "title_len", "body_len",
        "sha256", "size_bytes"]


@pytest.fixture(scope="module")
def tables(spark, built_index):
    storage = built_index["storage"]
    docs, forward, vocab, links = (
        storage.read_table(spark, t).toPandas()
        for t in ("docs", "forward", "vocab", "links"))
    postings = pd.DataFrame(
        [(d, e["term_id"], e["tf"]) for d, tfs in zip(forward["doc_id"], forward["term_tfs"])
         for e in tfs],
        columns=["doc_id", "term_id", "tf"])
    return {"docs": docs.set_index("doc_id"), "vocab": vocab, "links": links,
            "postings": postings}


def _reference(tables, ranked):
    """Expected assembled rows for the ranked (doc_id, score) list."""
    docs, links, p = tables["docs"], tables["links"], tables["postings"]
    # top-5 chosen by (tf desc, term_id asc), listed by (tf desc, term desc)
    top = (p.sort_values(["doc_id", "tf", "term_id"], ascending=[True, False, True])
           .groupby("doc_id").head(5)
           .merge(tables["vocab"][["term_id", "term"]], on="term_id")
           .sort_values(["doc_id", "tf", "term"], ascending=[True, False, False]))
    keywords = {d: [{"tf": int(tf), "term": t} for tf, t in zip(g["tf"], g["term"])]
                for d, g in top.groupby("doc_id")}

    def neighbors(ids):
        ids = sorted({int(i) for i in ids if i in docs.index})
        return (ids, [docs.at[i, "path"] for i in ids]) if ids else (None, None)

    out = []
    for doc_id, score in ranked:
        row = {c: docs.at[doc_id, c] for c in META[1:]}
        row = {"doc_id": doc_id, **{c: (v.item() if hasattr(v, "item") else v)
                                    for c, v in row.items()}}
        row["score"] = score
        row["keywords"] = keywords.get(doc_id)
        row["parent_ids"], row["parent_paths"] = neighbors(
            links.loc[links["dst_doc_id"] == doc_id, "src_doc_id"])
        row["child_ids"], row["child_paths"] = neighbors(
            links.loc[links["src_doc_id"] == doc_id, "dst_doc_id"])
        out.append(row)
    return out


def _isolated_term(tables):
    """A vocab term every one of whose docs has no link in either
    direction (its hits assemble with null parent and child lists)."""
    links, p = tables["links"], tables["postings"]
    linked = set(links["src_doc_id"]) | set(links["dst_doc_id"])
    touched = p.assign(linked=p["doc_id"].isin(linked)).groupby("term_id")["linked"].any()
    free = touched[~touched].index
    vocab = tables["vocab"].set_index("term_id")
    assert len(free), "fixture corpus has no term confined to unlinked docs"
    return vocab.loc[free].sort_values(["df", "term"], ascending=[False, True])["term"].iloc[0]


def _check(tables, rows, ranked):
    assert [r["doc_id"] for r in rows] == [d for d, _ in ranked]
    scores = [(-r["score"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores), "rows not ordered by (score desc, doc_id asc)"
    got = [r.asDict(recursive=True) for r in rows]
    assert got == _reference(tables, ranked)


def test_assembled_rows_match_stored_tables(spark, built_index, tables):
    qe = QueryEngine(spark, built_index["storage"])
    cases = [
        ("posting merge", 10),                   # keywords
        ('searching "engines retrieval"', 10),   # phrase
        ("index", 1),                            # k=1
        ("zzqqunseen", 10),                      # unseen term: 0 rows
    ]
    saw = {"parents": False, "no_parents": False, "children": False, "no_children": False}
    for q, k in cases:
        df = qe.search(q, k=k)
        assert [(f.name, f.dataType.simpleString()) for f in df.schema] == RESULT_COLUMNS
        rows = df.collect()
        ranked = [(r["doc_id"], r["score"])
                  for r in qe.search(q, k=k, assemble=False).collect()]
        assert len(rows) == len(ranked) <= k
        _check(tables, rows, ranked)
        for r in rows:
            saw["parents" if r["parent_ids"] else "no_parents"] = True
            saw["children" if r["child_ids"] else "no_children"] = True
    assert len(qe.search("zzqqunseen", k=10).collect()) == 0
    assert all(saw.values()), saw

    # a query whose every hit has no link: both link lists are null
    term = _isolated_term(tables)
    df = qe.search_terms([term], k=5)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == RESULT_COLUMNS
    rows = df.collect()
    ranked = [(r["doc_id"], r["score"])
              for r in qe.search_terms([term], k=5, assemble=False).collect()]
    assert rows
    _check(tables, rows, ranked)
    assert all(r[c] is None for r in rows
               for c in ("parent_ids", "parent_paths", "child_ids", "child_paths"))


def test_assembly_jobs_stay_in_callers_job_group(spark, built_index):
    """Spark job groups are thread-local; the assembly's concurrent
    lookups run on helper threads that must carry the caller's group.
    Every job between two marker jobs belongs to the query's group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    qe = QueryEngine(spark, built_index["storage"])
    q = 'searching "engines retrieval"'
    qe.search(q, k=10).collect()  # warm the term and phrase caches

    def run_in_group(fn):
        group = f"assemble-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(tracker.getJobIdsForGroup(group))

    def marker():
        return sc.parallelize([1], 1).count()

    (before,) = run_in_group(marker)
    query_jobs = run_in_group(lambda: qe.search(q, k=10).collect())
    (after,) = run_in_group(marker)
    assert query_jobs == list(range(before + 1, after)), (before, query_jobs, after)
    assert len(query_jobs) >= 3  # the ranking plus both lookup rounds
