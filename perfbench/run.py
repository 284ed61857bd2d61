#!/usr/bin/env python3
"""Benchmark of the engine's build -> serve -> upsert loop on one seeded corpus.

    python3 perfbench/run.py --workload serve|rank --seed N --seconds S --trace 0|1

Run from the repository root.  Each run generates its corpus and queries
from ``--seed``, builds the index cold, warms up, then sends a fixed,
``--seconds``-sized stream of queries in a closed loop and checks every
result against the pandas oracle.  A traced ``serve`` run then applies one
upsert batch, refreshes and probes it.
Untraced runs (``--trace 0``) print the end-to-end metrics; traced runs
(``--trace 1``) wrap each layer's public calls (spans.py) and print the
per-layer metrics.  Every metric is printed as a ``run_id workload seed name
value unit`` line; the last line is one JSON object.  Spans and raw samples
go to ``perfbench/results/<run_id>.json``.  Exits 1 when a result is wrong.
See WORKLOADS.md for the design.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import urllib.error  # noqa: E402
import urllib.parse  # noqa: E402
import urllib.request  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]
try:
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark
    import workloads as W
    from check import Oracle, ranking_ok
    from spans import NullTracer, Tracer
    from web_based_search_engine_spark import fixtures
    from web_based_search_engine_spark.config import IndexConfig
    from web_based_search_engine_spark.plans.build import STAGES, IndexBuilder
    from web_based_search_engine_spark.plans.query import QueryEngine
    from web_based_search_engine_spark.server import SearchServer
    from web_based_search_engine_spark.session import get_spark
    from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage
    from web_based_search_engine_spark.streaming import incremental
    ENGINE_MISSING = None
except ImportError as e:  # reported by main(): no result is printed
    ENGINE_MISSING = e

K = 50
SERVE_CLIENTS = 2
DRIVER_HEAP = "2g"
WATCHDOG_S = 170
# A run sends a fixed number of queries, so percentiles and qps compare like
# for like between runs.  --seconds sets that number through the workload's
# nominal rate on a 4-core host: there the timed phase lasts about --seconds.
QUERY_RATE = {"serve": 0.7, "rank": 1.0}

END_TO_END = {  # name -> unit
    "setup_s": "s", "query_p50_s": "s", "qps": "1/s",
    "peak_rss_mb": "MB", "index_mb": "MB",
}


def cpu_probe() -> float:
    """Single-thread md5 loop (tools/cpu_ceiling.py's probe, shortened)."""
    x = b"x" * 64
    t0 = time.perf_counter()
    for _ in range(400_000):
        hashlib.md5(x)
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
        self.work = HERE / "work" / self.run_id
        self.excluded_s = 0.0           # benchmark-side work inside setup
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.server = None
        self.side: dict = {"run_id": self.run_id, "workload": self.workload,
                           "seed": self.seed, "trace": args.trace}

    # --------------------------------------------------------------- infra
    def start_spark(self, cores: int):
        for sub in ("spark-local", "tmp"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        tmp = str(self.work / "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = f"{ROOT}:{pp}" if pp else str(ROOT)
        spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-XX:+UseG1GC -Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def http(self, method: str, path: str, tracer) -> tuple[int, bytes]:
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}{path}", method=method,
            data=b"" if method == "POST" else None, headers=tracer.headers(),
        )
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    # ------------------------------------------------------------ operations
    def serve_op(self, q: str, tracer) -> dict:
        """GET /search for the assembled top-k, as the web UI sends it."""
        with tracer.span("client"):
            t0 = time.perf_counter()
            try:
                status, body = self.http(
                    "GET", f"/search?q={urllib.parse.quote(q)}&k={K}", tracer)
            except OSError as e:
                status, body = 0, str(e).encode()
            lat = time.perf_counter() - t0
        got = None
        if status == 200:
            got = [((r["repo"], r["path"], r["commit"]), r["score"])
                   for r in json.loads(body)["results"]]
        return {"q": q, "lat": lat, "status": status, "kb": len(body) / 1024.0,
                "got": got}

    def rank_op(self, q: str, tracer) -> dict:
        """QueryEngine.search(assemble=False).collect(): ranking only."""
        with tracer.span("client"):
            t0 = time.perf_counter()
            try:
                rows = self.qe.search(q, k=K, assemble=False).collect()
                status = 200
            except Exception as e:  # noqa: BLE001 — an engine error is a failed op
                rows, status = [], f"{type(e).__name__}: {e}"[:200]
            lat = time.perf_counter() - t0
        return {"q": q, "lat": lat, "status": status, "kb": 0.0,
                "ids": [(r["doc_id"], r["score"]) for r in rows]}

    def closed_loop(self, queries: list[str], clients: int, op, tracer) -> tuple[list[dict], float]:
        """Each client sends the next query of the fixed list when its
        previous reply is in."""
        samples: list[dict] = []
        lock = threading.Lock()
        it = iter(queries)
        errors: list[BaseException] = []

        def client():
            try:
                while True:
                    with lock:
                        q = next(it, None)
                    if q is None:
                        return
                    s = op(q, tracer)
                    with lock:
                        samples.append(s)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        start = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return samples, time.perf_counter() - start

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def check_samples(self, samples, oracle, key_of=None) -> None:
        for s in samples:
            if s["status"] != 200:
                self.record(False, f"{s['q']!r}: status {s['status']}")
                continue
            got = s["got"] if key_of is None else [(key_of[i], sc) for i, sc in s["ids"]]
            self.record(ranking_ok(got, oracle.ranking(s["q"]), K),
                        f"{s['q']!r}: differs from the oracle")

    def catalog(self) -> dict[str, dict]:
        return self.storage.manifest()["tables"]

    def live_files(self) -> dict[int, int]:
        """inode -> size of every file of every live table."""
        out = {}
        for t in self.catalog().values():
            for f in t["files"]:
                st = os.stat(Path(t["path"]) / f)
                out[st.st_ino] = st.st_size
        return out

    # ----------------------------------------------------------------- run
    def execute(self) -> int:
        t = time.perf_counter()
        probe_start = cpu_probe()
        self.excluded_s += time.perf_counter() - t

        nproc = len(os.sched_getaffinity(0))
        cores = min(nproc, 4)
        spark = self.start_spark(cores)
        self.spark = spark
        proc = spark.sparkContext._gateway.proc
        watchdog = threading.Timer(WATCHDOG_S, self.abort, (proc,))
        watchdog.daemon = True
        watchdog.start()
        try:
            return self._execute(spark, proc, nproc, cores, probe_start)
        finally:
            watchdog.cancel()
            try:
                if self.server is not None:
                    self.server.stop()
                spark.stop()
            finally:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                shutil.rmtree(self.work, ignore_errors=True)

    def abort(self, proc) -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S} s, aborting", file=sys.stderr)
        proc.kill()
        proc.wait()
        os._exit(3)

    def _execute(self, spark, proc, nproc, cores, probe_start) -> int:
        args = self.args
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            tracer.install()

        # ---- setup: corpus, cold build, engine (+ server), warm-up
        rows = W.corpus(self.seed)
        corpus_path = self.work / "corpus.parquet"
        cols = list(zip(*rows))
        pq.write_table(pa.table({f.name: list(c) for f, c in
                                 zip(fixtures.CORPUS_SCHEMA.fields, cols)}), corpus_path)
        corpus = spark.read.schema(fixtures.CORPUS_SCHEMA).parquet(str(corpus_path))
        cfg = IndexConfig(num_term_buckets=cores, num_doc_buckets=cores,
                          salt_buckets=cores, encode_salt=cores)
        self.storage = ParquetIndexStorage(self.work / "index")
        t = time.perf_counter()
        report = IndexBuilder(spark, self.storage, cfg).build(corpus, resume=False)
        build_s = time.perf_counter() - t
        tables = self.catalog()
        index_mb = sum(v["bytes"] for v in tables.values()) / 2**20
        self.qe = QueryEngine(spark, self.storage)
        if self.workload == "serve":
            self.server = SearchServer(self.qe, port=0).start()
            self.port = self.server.port
            if args.trace:
                tracer.install_server(self.server)
        op = self.serve_op if self.workload == "serve" else self.rank_op

        t = time.perf_counter()
        vocab = W.Vocabulary(rows)
        if self.workload == "serve":
            warm, pool, stream = W.serve_queries(self.seed, vocab)
        else:
            warm, stream = W.rank_queries(self.seed, vocab)
        self.excluded_s += time.perf_counter() - t
        tracer.phase = "warmup"
        for q in warm:
            op(q, tracer)
        setup_s = time.perf_counter() - T0 - self.excluded_s

        # ---- timed phase
        tracer.phase = "timed"
        evictions0 = self.qe._persist_registry.evictions
        clients = SERVE_CLIENTS if self.workload == "serve" else 1
        n_queries = max(1, round(args.seconds * QUERY_RATE[self.workload]))
        samples, wall = self.closed_loop(stream[:n_queries], clients, op, tracer)
        evictions = self.qe._persist_registry.evictions - evictions0
        lats = [s["lat"] for s in samples]

        # ---- correctness (oracle time is outside every metric)
        tracer.phase = "check"
        oracle = Oracle(rows)
        key_of = None
        if self.workload == "rank":
            key_of = {r["doc_id"]: (r["repo"], r["path"], r["commit"]) for r in
                      self.storage.read_table(spark, "docs")
                      .select("doc_id", "repo", "path", "commit").collect()}
        self.check_samples(samples, oracle, key_of)
        blocks = tracer.wand_block_counts("timed") if args.trace else None

        # ---- write path, traced serve runs only: upsert a batch, refresh,
        # probe it.  Its figures are per-layer (no workload but serve could
        # report them), and leaving it out of untraced runs keeps the whole
        # benchmark inside its time budget.
        tracer.phase = "write"
        write = {}
        if args.trace and self.workload == "serve":
            write = self.upsert_and_probe(rows, cfg, pool, tracer)
        tracer.phase = "done"
        probe_end = cpu_probe()

        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(proc.pid)
        self.side["host"] = host = {  # name -> (value, unit)
            "nproc": (nproc, "count"), "spark_master": (f"local[{cores}]", "-"),
            "driver_heap": (DRIVER_HEAP, "-"), "pyspark": (pyspark.__version__, "-"),
            "java": (spark._jvm.System.getProperty("java.version"), "-"),
            "corpus_docs": (report.n_docs, "count"),
            "postings_rows": (tables["postings"]["rows"], "count"),
            "clients": (clients, "count"), "timed_queries": (len(samples), "count"),
            "cpu_probe_start_s": (probe_start, "s"), "cpu_probe_end_s": (probe_end, "s"),
        }
        self.side["samples"] = [{k: v for k, v in s.items() if k in ("q", "lat", "status", "kb")}
                                for s in samples]
        self.side["build_stage_seconds"] = report.stage_seconds

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "query_p50_s": statistics.median(lats),
                "qps": len(samples) / wall,
                "peak_rss_mb": rss,
                "index_mb": index_mb,
            }
            units = dict(END_TO_END)
            # Not gated: fewer than ten of a run's queries lie beyond its p90
            # (host.timed_queries gives the count), and the cold build's
            # throughput is inside setup_s, which is gated.
            extra = {"query_p90_s": (p90(lats), "s"),
                     "build_docs_per_s": (report.n_docs / build_s, "docs/s")}
        else:
            tracer.job_counts()
            metrics, units = self.layer_metrics(
                tracer, samples, write, report, build_s, tables, blocks, evictions, host)
            extra = {"trace.query_p50_s": (statistics.median(lats), "s"),
                     "trace.timed_write_spans": (self.timed_write_spans, "count")}
            self.side["spans"] = tracer.spans
            tracer.uninstall()
        return self.emit(metrics, units, extra, host)

    def upsert_and_probe(self, rows, cfg, pool, tracer) -> dict:
        token, batch, updated = W.upsert_batch(self.seed, rows)
        batch_df = self.spark.createDataFrame(batch, fixtures.CORPUS_SCHEMA)
        before = self.live_files()
        with tracer.span("write"):
            t0 = time.perf_counter()
            # module attribute lookup, so a traced run's wrapper applies
            rep = incremental.incremental_update(self.spark, self.storage, batch_df, cfg)
            with tracer.span("client"):
                status, _ = self.http("POST", "/refresh", tracer)
            probe = self.serve_op(token, tracer)
            fresh_s = time.perf_counter() - t0
        self.record(status == 200, f"POST /refresh: status {status}")
        want = {r[:3] for r in batch}
        self.record(probe["got"] is not None and {k for k, _ in probe["got"]} == want,
                    "freshness probe did not return the batch's docs")
        after = self.live_files()
        # a post-upsert sample, checked against an oracle over the new corpus
        oracle = Oracle(updated)
        post = self.serve_op(W.rng(self.seed, "post-upsert").choice(pool), tracer)
        self.check_samples([probe, post], oracle)
        return {
            "fresh_s": fresh_s, "first_query_s": probe["lat"],
            "stages_run": len(rep.stages_run),
            "mb_written": sum(sz for ino, sz in after.items() if ino not in before) / 2**20,
        }

    # ------------------------------------------------------------- tracing
    def layer_metrics(self, tracer, samples, write, report, build_s, tables,
                      blocks, evictions, host):
        spans = tracer.spans
        by_id = {s["id"]: s for s in spans}
        kids: dict[int, list] = {}
        for s in spans:
            if s["parent"] in by_id:
                kids.setdefault(s["parent"], []).append(s)

        def dur(s):
            return s["end"] - s["start"]

        roots = [s for s in spans if s["name"] == "client" and s["parent"] is None
                 and s["phase"] == "timed"]
        n = max(1, len(roots))
        reqs = {s["id"] for s in roots}
        in_q = [s for s in spans if s["req"] in reqs]

        def total(name, f=dur):
            return sum(f(s) for s in in_q if s["name"] == name) / n

        def jobs(*names):
            return sum(s["jobs"] for s in in_q if s["name"] in names) / n

        def uncovered(root):
            return max(0.0, dur(root) - sum(dur(c) for c in kids.get(root["id"], [])))

        def per_req(name):
            out: dict[int, float] = {}
            for s in in_q:
                if s["name"] == name:
                    out[s["req"]] = out.get(s["req"], 0.0) + dur(s)
            return out

        search, execute = per_req("plans.query.search"), per_req("plans.query.execute")
        overhead = sum(dur(r) - search.get(r["id"], 0.0) - execute.get(r["id"], 0.0)
                       for r in roots) / n
        qstats = [q for q in tracer.queries if q["phase"] == "timed"]
        terms = sum(q["terms"] for q in qstats)
        phrases = sum(q["phrase"] for q in qstats)
        write_roots = [s for s in spans if s["name"] == "write" and s["parent"] is None]
        all_roots = roots + write_roots
        covered = 1.0 - (sum(uncovered(r) for r in all_roots)
                         / max(1e-9, sum(dur(r) for r in all_roots)))

        def write_span(name):
            return sum((dur(s) for s in spans if s["name"] == name and s["phase"] == "write"), 0.0)

        cand, dec = blocks
        stage_s = report.stage_seconds or {}
        metrics = {
            "server.overhead_s": (overhead, "s"),
            "server.resp_kb": (statistics.fmean(s["kb"] for s in samples), "kB"),
            "plans.query.parse_s": (total("plans.query.parse"), "s"),
            "plans.query.search_self_s": (total("plans.query.search", lambda s: dur(s) - sum(
                dur(c) for c in kids.get(s["id"], []))), "s"),
            "plans.query.assemble_plan_s": (total("plans.query.assemble_plan"), "s"),
            "plans.query.execute_s": (total("plans.query.execute"), "s"),
            "plans.query.execute_jobs": (jobs("plans.query.execute"), "count"),
            "plans.query.jobs_per_query": (sum(s["jobs"] for s in in_q) / n, "count"),
            "plans.query.term_hit_frac": (sum(q["term_hits"] for q in qstats) / max(1, terms), "ratio"),
            "plans.query.phrase_hit_frac": (sum(q["phrase_hit"] for q in qstats) / max(1, phrases), "ratio"),
            "plans.query.refresh_s": (write_span("plans.query.refresh"), "s"),
            "plans.query.first_query_s": (write.get("first_query_s", 0.0), "s"),
            "operators.scoring.lookup_s": (total("operators.scoring.lookup"), "s"),
            "operators.scoring.lookup_jobs": (jobs("operators.scoring.lookup"), "count"),
            "operators.phrase.candidates_s": (total("operators.phrase.candidates")
                                              + total("operators.phrase.materialize"), "s"),
            "operators.phrase.jobs": (jobs("operators.phrase.candidates",
                                           "operators.phrase.materialize"), "count"),
            "operators.wand.plan_s": (total("operators.wand"), "s"),
            "operators.wand.jobs": (jobs("operators.wand"), "count"),
            "operators.wand.blocks_candidate": (cand / n, "count"),
            "operators.wand.blocks_decoded": (dec / n, "count"),
            "operators.wand.pool_evictions": (evictions, "count"),
            **{f"plans.build.{st}_s": (float(stage_s.get(st, 0.0)), "s") for st in STAGES},
            "plans.build.wall_s": (build_s, "s"),
            **{f"sources.catalog.{t}_mb": (tables[t]["bytes"] / 2**20 if t in tables else 0.0, "MB")
               for t in STAGES},
            "streaming.incremental.plan_s": (write_span("streaming.incremental.plan"), "s"),
            "streaming.incremental.upsert_s": (write_span("streaming.incremental.upsert"), "s"),
            "streaming.incremental.stages_run": (write.get("stages_run", 0), "count"),
            "streaming.incremental.mb_written": (write.get("mb_written", 0.0), "MB"),
            "streaming.incremental.fresh_s": (write.get("fresh_s", 0.0), "s"),
            "unattributed_s": (sum(uncovered(r) for r in roots) / n, "s"),
            "trace.coverage": (covered, "ratio"),
            "trace.overhead_s": (tracer.overhead_s.get("timed", 0.0) / n, "s"),
            "host.cpu_probe_start_s": host["cpu_probe_start_s"],
            "host.cpu_probe_end_s": host["cpu_probe_end_s"],
        }
        # the workload design: no build or upsert work inside the timed phase
        self.timed_write_spans = sum(
            1 for s in spans if s["phase"] == "timed"
            and s["name"].startswith(("plans.build", "streaming.incremental")))
        return ({k: v for k, (v, _u) in metrics.items()},
                {k: u for k, (_v, u) in metrics.items()})

    # -------------------------------------------------------------- output
    def emit(self, metrics, units, extra, host) -> int:
        fail_frac = self.failed / max(1, self.attempted)
        prefix = f"{self.run_id} {self.workload} {self.seed}"
        for name, value in metrics.items():
            print(f"{prefix} {name} {value!r} {units[name]}")
        for name, (value, unit) in extra.items():
            print(f"{prefix} {name} {value!r} {unit}")
        print(f"{prefix} fail_frac {fail_frac!r} ratio")
        for name, (value, unit) in host.items():
            print(f"{prefix} host.{name} {value} {unit}")
        for f in self.failures[:20]:
            print(f"{prefix} failure {f}", file=sys.stderr)
        self.side.update(metrics=metrics, attempted=self.attempted,
                         failed=self.failed, failures=self.failures)
        out_dir = HERE / "results"
        out_dir.mkdir(exist_ok=True)
        with open(out_dir / f"{self.run_id}.json", "w") as f:
            json.dump(self.side, f, default=str)
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if self.failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "rank"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if ENGINE_MISSING is not None:
        print(f"perfbench: the engine package is not importable here: {ENGINE_MISSING}",
              file=sys.stderr)
        return 2
    return Run(args).execute()


if __name__ == "__main__":
    sys.exit(main())
