"""CLI with App.java mode parity: build (was ``crawl``) / search / phrase /
print / update / server, plus bench hooks.

The reference CLI (App.java:26-59) ran ``crawl`` (BFS + index), ``search
word...``, ``phrase w1 w2 ...``, ``print``, ``server``.  The rebuild's
source is a corpus table instead of a crawl frontier (SURVEY #5: BFS is out
of scope — full/incremental scan replaces it); ``server`` serves JSON over
stdlib HTTP (server.py, JavalinServer analog).  Output mirrors
``SearchResult.toResultFormat()``: score, title/path, identity line, top-5
keywords with frequencies.

Usage (also via spark-submit --py-files engine.zip):
    python -m web_based_search_engine_spark.cli build  --corpus PATH --index DIR
    python -m web_based_search_engine_spark.cli update --corpus PATH --index DIR
    python -m web_based_search_engine_spark.cli search --index DIR "free text query"
    python -m web_based_search_engine_spark.cli phrase --index DIR w1 w2 ...
    python -m web_based_search_engine_spark.cli near   --index DIR --window 8 w1 w2 ...
    python -m web_based_search_engine_spark.cli print  --index DIR [--table docs]
    python -m web_based_search_engine_spark.cli server --index DIR --port 8321
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from .config import IndexConfig, ScoringConfig
from .plans.build import IndexBuilder
from .plans.query import QueryEngine
from .session import get_spark
from .sources.catalog import ParquetIndexStorage


def _print_results(rows) -> None:
    for i, r in enumerate(rows, 1):
        kw = r["keywords"] or []
        kw_text = "; ".join(f"{e['term']} {e['tf']}" for e in kw)
        print(f"{i:2d}. score={r['score']:.6f}  {r['path']}")
        print(f"    {r['repo']} @ {r['commit'][:12]} [{r['lang']}]")
        print(f"    keywords: {kw_text}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="web-search-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pb = sub.add_parser("build", help="build the index from a corpus parquet")
    pb.add_argument("--corpus", required=True)
    pb.add_argument("--index", required=True)
    pb.add_argument("--buckets", type=int, default=8)
    pb.add_argument("--no-resume", action="store_true")

    pu = sub.add_parser("update", help="freshness-gated incremental upsert")
    pu.add_argument("--corpus", required=True)
    pu.add_argument("--index", required=True)
    pu.add_argument("--buckets", type=int, default=8)

    ps = sub.add_parser("search", help="free-text query (one quoted phrase allowed)")
    ps.add_argument("--index", required=True)
    ps.add_argument("--scorer", default="bm25", choices=["bm25", "reference"])
    ps.add_argument("-k", type=int, default=50)
    ps.add_argument("query", nargs="+")

    pp = sub.add_parser("phrase", help="phrase query: words scored, adjacency required")
    pp.add_argument("--index", required=True)
    pp.add_argument("-k", type=int, default=50)
    pp.add_argument("words", nargs="+")

    pn = sub.add_parser(
        "near", help="proximity query: words scored, all within --window tokens"
    )
    pn.add_argument("--index", required=True)
    pn.add_argument("--window", type=int, default=8)
    pn.add_argument("-k", type=int, default=50)
    pn.add_argument("words", nargs="+")

    pr = sub.add_parser("print", help="dump index tables (ordered)")
    pr.add_argument("--index", required=True)
    pr.add_argument("--table", default=None)
    pr.add_argument("-n", type=int, default=20)

    pg = sub.add_parser("pagerank", help="PageRank over the stored link graph")
    pg.add_argument("--index", required=True)
    pg.add_argument("--iters", type=int, default=10)
    pg.add_argument("--damping", type=float, default=0.85)
    pg.add_argument("-n", type=int, default=20)

    pvac = sub.add_parser(
        "vacuum", help="expire old index snapshot versions (keep the newest N)"
    )
    pvac.add_argument("--index", required=True)
    pvac.add_argument("--keep-last", type=int, default=2)

    pv = sub.add_parser("server", help="HTML + JSON HTTP search endpoint (JavalinServer analog)")
    pv.add_argument("--index", required=True)
    pv.add_argument("--host", default="127.0.0.1")
    pv.add_argument("--port", type=int, default=8321)

    args = p.parse_args(argv)
    spark = get_spark("web-search-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "build":
        storage = ParquetIndexStorage(args.index)
        corpus = spark.read.parquet(args.corpus)
        rep = IndexBuilder(spark, storage, IndexConfig(num_term_buckets=args.buckets)).build(
            corpus, resume=not args.no_resume
        )
        print(
            f"built {rep.n_docs} docs in {rep.seconds:.1f}s; "
            f"ran={rep.stages_run} skipped={rep.stages_skipped}"
        )
    elif args.cmd == "update":
        from .streaming.incremental import incremental_update

        storage = ParquetIndexStorage(args.index)
        corpus = spark.read.parquet(args.corpus)
        rep = incremental_update(
            spark, storage, corpus, IndexConfig(num_term_buckets=args.buckets)
        )
        print(f"update done in {rep.seconds:.1f}s; ran={rep.stages_run}")
    elif args.cmd == "search":
        qe = QueryEngine(
            spark,
            ParquetIndexStorage(args.index),
            ScoringConfig(scorer=args.scorer),
        )
        _print_results(qe.search(" ".join(args.query), k=args.k).collect())
    elif args.cmd == "phrase":
        qe = QueryEngine(spark, ParquetIndexStorage(args.index))
        _print_results(qe.phrase_search(args.words, k=args.k).collect())
    elif args.cmd == "near":
        qe = QueryEngine(spark, ParquetIndexStorage(args.index))
        _print_results(qe.near_search(args.words, args.window, k=args.k).collect())
    elif args.cmd == "print":
        storage = ParquetIndexStorage(args.index)
        names = [args.table] if args.table else sorted(storage.manifest()["tables"])
        for name in names:
            print(f"=== {name} ===")
            df = storage.read_table(spark, name)
            order = [c for c in ("term_id", "doc_id", "bucket") if c in df.columns]
            (df.orderBy(*order) if order else df).show(args.n, truncate=60)
    elif args.cmd == "pagerank":
        from .operators.links import pagerank

        storage = ParquetIndexStorage(args.index)
        links = storage.read_table(spark, "links")
        pr = pagerank(links, damping=args.damping, n_iter=args.iters)
        docs = storage.read_table(spark, "docs").select("doc_id", "repo", "path")
        (
            pr.join(docs, "doc_id")
            .orderBy(F.desc("rank"), "doc_id")
            .show(args.n, truncate=60)
        )
    elif args.cmd == "vacuum":
        storage = ParquetIndexStorage(args.index)
        stats = storage.vacuum(keep_last=args.keep_last)
        if not stats:
            print("nothing to expire")
        for name, s in sorted(stats.items()):
            versions = ", ".join(f"v{v}" for v in s["versions_deleted"])
            print(
                f"{name}: expired {versions}, "
                f"{s['files_unlinked']} files unlinked, "
                f"{s['bytes_freed']} bytes freed"
            )
    elif args.cmd == "server":
        from .server import SearchServer

        qe = QueryEngine(spark, ParquetIndexStorage(args.index))
        srv = SearchServer(qe, host=args.host, port=args.port)
        print(f"serving on http://{args.host}:{srv.port}/search?q=...")
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            srv.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
