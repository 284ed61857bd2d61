"""The benchmark's contract with the package.  ``perfbench/`` and
``BENCHMARK.json`` use the package by name: a traced run prints one
per-layer metric per build stage, wraps package calls by attribute name,
replays ``wand_top_k`` with keyword arguments, reads engine caches and
counters by attribute name, and reads the stored ``postings`` table's row
count.  Renaming or deleting any of these breaks only the traced run, so
these tests pin them."""

from __future__ import annotations

import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _per_layer_names() -> list[str]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in bench["per_layer"]]


def _stage_names(prefix: str, suffix: str) -> set[str]:
    return {
        n[len(prefix):-len(suffix)]
        for n in _per_layer_names()
        if n.startswith(prefix) and n.endswith(suffix)
    }


def test_per_layer_stage_metrics_match_build_stages():
    from web_based_search_engine_spark.plans.build import STAGES

    assert _stage_names("plans.build.", "_s") - {"wall"} == set(STAGES)
    assert _stage_names("sources.catalog.", "_mb") == set(STAGES)


def test_tracer_wraps_existing_package_names():
    from perfbench.spans import Tracer

    tracer = Tracer(None)
    try:
        tracer.install()
        patched = list(tracer._undo)
    finally:
        tracer.uninstall()
    assert patched
    for owner, attr, orig in patched:
        assert owner.__dict__[attr] is orig, attr


def test_traced_replay_and_engine_attributes_exist():
    """perfbench/spans.py replays every ``wand_top_k`` call with ``stats``,
    ``persist_registry`` and ``bounds_cache`` keywords and reads the
    engine's ``_term_cache`` and ``_phrase_cache``; perfbench/run.py reads
    ``_persist_registry.evictions``."""
    import inspect

    from web_based_search_engine_spark.operators import wand
    from web_based_search_engine_spark.plans.query import QueryEngine

    params = inspect.signature(wand.wand_top_k).parameters
    for name in ("stats", "persist_registry", "bounds_cache"):
        assert name in params, name
        assert params[name].kind in (
            inspect.Parameter.POSITIONAL_OR_KEYWORD, inspect.Parameter.KEYWORD_ONLY
        ), name
    for name in ("_persist_registry", "_term_cache", "_phrase_cache"):
        assert isinstance(inspect.getattr_static(QueryEngine, name), property), name
    assert "evictions" in vars(wand.PersistPool(1))


def test_built_index_manifest_has_postings_table(built_index):
    tables = built_index["storage"].manifest()["tables"]
    assert tables["postings"]["rows"] > 0
