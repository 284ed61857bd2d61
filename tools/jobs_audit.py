#!/usr/bin/env python
"""Jobs-per-warm-query audit (VERDICT r4 directive 5).

Warm-query p50 at sf0.1 is mostly fixed driver cost.  This probe
attributes it job-by-job: each bench query shape runs WARM inside its own
Spark job group; the job group's jobs are then read back from the UI REST
API (name, duration), giving {jobs/query, per-job wall, scheduling floor}.

The scheduling floor is measured directly: a 1-task no-op job
(spark.range(1).collect()) timed the same way — no query can beat
plan-optimization + scheduling + 1 task.

Writes bench/jobs_per_query_r5.json and prints one JSON line.

Usage: python tools/jobs_audit.py [n_docs]   (default 50000)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_based_search_engine_spark.config import IndexConfig, ScoringConfig  # noqa: E402
from web_based_search_engine_spark.operators import wand as W  # noqa: E402
from web_based_search_engine_spark.plans.build import IndexBuilder  # noqa: E402
from web_based_search_engine_spark.plans.query import QueryEngine  # noqa: E402
from web_based_search_engine_spark.session import get_spark  # noqa: E402
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage  # noqa: E402

SHAPES = {
    "search_hot_term": "foo_bar",
    "search_multi": "merge_sort searching engines retrieval",
    "search_rare": "rare0004x nationalism",
    "search_phrase": 'posting "searching engines" index_builder',
    "search_broad": "agreed happy flies searching engines running posting scoring cats does",
    "search_zipf_head": "agreed rare0007x",
}


def _rest(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return json.loads(r.read())


def _parse_ms(ts: str) -> float:
    """REST timestamps look like 2026-08-19T05:10:11.123GMT — ms precision."""
    base = time.mktime(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
    frac = 0.0
    if len(ts) > 20 and ts[19] == ".":
        digits = ts[20:23]
        if digits.isdigit():
            frac = int(digits) / 1000.0
    return base + frac


def jobs_for_group(spark, port: int, app_id: str, gid: str) -> list[dict]:
    jobs = _rest(port, f"/api/v1/applications/{app_id}/jobs?status=succeeded")
    out = []
    for j in jobs:
        if j.get("jobGroup") != gid:
            continue
        try:
            dur = round(_parse_ms(j["completionTime"]) - _parse_ms(j["submissionTime"]), 3)
        except Exception:
            dur = None
        # stage-level attribution: the job-name callsite is always the final
        # collect; the STAGE names say what each job actually computed
        # (broadcast-exchange build vs the result job's shuffle stages).
        stages = []
        for sid in sorted(j.get("stageIds") or []):
            try:
                for att in _rest(port, f"/api/v1/applications/{app_id}/stages/{sid}"):
                    stages.append({
                        "stage_id": sid,
                        "name": (att.get("name") or "")[:120],
                        "num_tasks": att.get("numTasks"),
                        "executor_run_time_ms": att.get("executorRunTime"),
                        "wall_ms": round(
                            (_parse_ms(att["completionTime"]) - _parse_ms(att["firstTaskLaunchedTime"])) * 1000
                        ) if att.get("completionTime") and att.get("firstTaskLaunchedTime") else None,
                    })
            except Exception:
                stages.append({"stage_id": sid, "name": "<skipped/unfetched>"})
        out.append({
            "job_id": j["jobId"],
            "name": (j.get("name") or "")[:120],
            "duration_sec": dur,
            "num_tasks": j.get("numTasks"),
            "stages": stages,
        })
    return sorted(out, key=lambda x: x["job_id"])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    spark = get_spark(
        "jobs-audit", master="local[32]",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1])
    app_id = spark.sparkContext.applicationId

    workdir = tempfile.mkdtemp(prefix="jobs_audit_")
    from web_based_search_engine_spark.fixtures import corpus_df_distributed

    corpus_path = os.path.join(workdir, "corpus")
    corpus_df_distributed(spark, n_docs).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    storage = ParquetIndexStorage(os.path.join(workdir, "idx"))
    IndexBuilder(
        spark, storage,
        IndexConfig(num_term_buckets=8, block_size=128, salt_buckets=8),
    ).build(corpus, resume=False)

    sc = spark.sparkContext
    report: dict = {"n_docs": n_docs, "modes": {}}

    # scheduling floor: 1-task no-op collect, warm, best of 5
    sc.range(1).count()
    floor = []
    for _ in range(5):
        t0 = time.time()
        spark.range(1).collect()
        floor.append(time.time() - t0)
    report["noop_collect_floor_sec"] = round(min(floor), 4)

    auto_cap = W.AUTO_PRUNE_POSTINGS
    for prune in ("auto", True):
        # a zero AUTO_PRUNE_POSTINGS makes "auto" prune every bm25 query
        W.AUTO_PRUNE_POSTINGS = auto_cap if prune == "auto" else 0
        qe = QueryEngine(spark, storage, ScoringConfig(scorer="bm25"))
        key = f"blocks[prune={prune}]"
        per_shape = {}
        for name, q in SHAPES.items():
            qe.search(q, assemble=False).collect()  # warmup (caches populated)
            gid = f"{key}:{name}"
            sc.setJobGroup(gid, name)
            t0 = time.time()
            qe.search(q, assemble=False).collect()
            wall = time.time() - t0
            sc.setJobGroup("idle", "idle")
            jobs = jobs_for_group(spark, port, app_id, gid)
            per_shape[name] = {
                "warm_wall_sec": round(wall, 4),
                "jobs": len(jobs),
                "job_details": jobs,
            }
        per_shape["_jobs_per_query_avg"] = round(
            sum(s["jobs"] for s in per_shape.values() if isinstance(s, dict) and "jobs" in s)
            / len(SHAPES), 2
        )
        report["modes"][key] = per_shape
    W.AUTO_PRUNE_POSTINGS = auto_cap

    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "bench", "jobs_per_query_r5.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "noop_floor": report["noop_collect_floor_sec"],
        "jobs_per_query": {
            k: v["_jobs_per_query_avg"] for k, v in report["modes"].items()
        },
        "written": out_path,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
