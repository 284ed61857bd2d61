"""Correctness gate: engine results against the package's pandas oracle.

The rule is the tie-aware one of the rank-identity tests: scores equal
within rel 1e-9, and docs may be permuted only inside a group of equal
scores.  That includes the group straddling the k cut, where the engine
may keep any members of the tie group the oracle cut at k.
"""

from __future__ import annotations

import math

from web_based_search_engine_spark.config import ScoringConfig
from web_based_search_engine_spark.oracle import pandas_oracle as O
from web_based_search_engine_spark.plans.query import parse_query

RTOL = 1e-9


class Oracle:
    def __init__(self, rows):
        self.index = O.build_oracle_index(rows)
        self._memo: dict[str, list] = {}

    def ranking(self, query: str) -> list[tuple[tuple, float]]:
        """Every matching doc, (score desc, natural key asc)."""
        if query not in self._memo:
            pq = parse_query(query)
            scores = O.score(self.index, pq.keywords, ScoringConfig())
            self._memo[query] = O.top_k(self.index, scores, len(scores), pq.phrase or None)
        return self._memo[query]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=0.0) or a == b


def ranking_ok(got: list[tuple[tuple, float]], want_all: list[tuple[tuple, float]],
               k: int) -> bool:
    """``got``: the engine's top-k as (natural key, score) in engine order."""
    end_k = min(k, len(want_all))
    if len(got) != end_k:
        return False
    i = 0
    while i < end_k:
        j = i + 1
        while j < len(want_all) and _close(want_all[j][1], want_all[i][1]):
            j += 1
        end = min(j, end_k)
        group = {key for key, _ in want_all[i:j]}
        got_keys = [key for key, _ in got[i:end]]
        if len(set(got_keys)) != end - i or not set(got_keys) <= group:
            return False
        if not all(_close(s, want_all[i][1]) for _, s in got[i:end]):
            return False
        i = end
    return True
