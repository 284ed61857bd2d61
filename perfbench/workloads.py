"""Seeded inputs for the benchmark: corpus, query streams and the upsert batch.

Everything here is a pure function of the workload seed, so the same seed
gives the same corpus, the same query sequence and the same upsert batch.
The engine only ever sees the generated inputs.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.functions.analysis import analyze_text_py

N_DOCS = 2000
SERVE_POOL = 200          # distinct queries the serve clients draw from
HEAD_TERMS = 24           # the rank workload's "highest-df" vocabulary
CHANGED_FRAC = 0.01       # share of docs an upsert batch rewrites
NEW_DOCS = 5              # brand-new docs per upsert batch
WARMUP = 2                # untimed queries before the timed phase


def rng(seed: int, purpose: str) -> random.Random:
    """Independent seeded stream per purpose (str seeds hash stably)."""
    return random.Random(f"{seed}:{purpose}")


def corpus(seed: int) -> list[tuple[str, str, str, str, str]]:
    return fixtures.corpus_rows(N_DOCS, seed=seed)


class Vocabulary:
    """Raw body tokens of a corpus ranked by document frequency.

    Only tokens that analyze to exactly one term are query material, so a
    query's keyword count is the count the engine sees."""

    def __init__(self, rows):
        term_of: dict[str, str | None] = {}
        df: Counter = Counter()
        self.docs: list[list[str]] = []
        for _repo, _path, _commit, _lang, content in rows:
            toks = []
            for tok in content.split():
                if tok not in term_of:
                    t = analyze_text_py(tok)
                    term_of[tok] = t[0] if len(t) == 1 else None
                toks.append(tok if term_of[tok] else None)
            self.docs.append(toks)
            df.update({t for t in toks if t})
        ranked = sorted(df, key=lambda t: (-df[t], t))
        # one raw token per analyzed term, so two query words never collapse
        seen_terms: set[str] = set()
        self.ranked = []
        for tok in ranked:
            if term_of[tok] not in seen_terms:
                seen_terms.add(term_of[tok])
                self.ranked.append(tok)

    def adjacent_pair(self, r: random.Random, allowed: set[str]) -> tuple[str, str] | None:
        """Two adjacent body tokens, both in ``allowed``, from a random doc:
        a phrase that matches at least one doc."""
        for _ in range(200):
            toks = r.choice(self.docs)
            pairs = [
                (a, b) for a, b in zip(toks, toks[1:])
                if a in allowed and b in allowed and a != b
            ]
            if pairs:
                return r.choice(pairs)
        return None


def _query(r: random.Random, terms: list[str], n_words: int, phrase: bool,
           vocab: Vocabulary) -> str:
    q = " ".join(r.sample(terms, n_words))
    if phrase:
        pair = vocab.adjacent_pair(r, set(terms))
        if pair:
            q += f' "{pair[0]} {pair[1]}"'
    return q


def _distinct(gen, n: int) -> list[str]:
    """The first ``n`` distinct queries of ``gen(i)``, i = number found so far."""
    out: dict[str, None] = {}
    for _ in range(50 * n):
        out.setdefault(gen(len(out)))
        if len(out) == n:
            break
    return list(out)


# Query shapes cycle with the query's position rather than being drawn at
# random, so every seed sends the same mix of shapes and only the terms
# differ: a run's median then moves with the engine, not with the draw.

def zipf_order(n_items: int, length: int) -> list[int]:
    """Deterministic Zipf(s=1) sequence over ``n_items``: position j takes
    the item furthest behind its expected count (j + 1) * p_i, so any prefix
    follows the distribution as closely as whole draws can."""
    h = sum(1.0 / (i + 1) for i in range(n_items))
    p = [1.0 / (i + 1) / h for i in range(n_items)]
    count = [0] * n_items
    out = []
    for j in range(length):
        i = max(range(n_items), key=lambda i: (j + 1) * p[i] - count[i])
        count[i] += 1
        out.append(i)
    return out


def serve_queries(seed: int, vocab: Vocabulary) -> tuple[list[str], list[str], list[str]]:
    """(warm-up, pool, stream) for the serve workload.

    The pool holds SERVE_POOL queries of 1-3 mid- and tail-df keywords,
    1 in 8 with a quoted phrase; the stream visits it in Zipf(s=1) order
    by pool position, so popular queries repeat and hit the engine's term,
    bounds and phrase caches.  Its first 7 queries are pool[0..5] (pool[5]
    has a phrase) and pool[0] again.  The warm-up queries, one of them
    with a phrase, have the pool's shapes over terms no timed query uses."""
    tail = vocab.ranked[HEAD_TERMS:]
    r = rng(seed, "serve")
    r.shuffle(tail)
    cut = max(8, len(tail) // 10)
    warm_terms, pool_terms = tail[:cut], tail[cut:]
    pool = _distinct(lambda i: _query(r, pool_terms, 1 + i % 3, i % 8 == 5, vocab),
                     SERVE_POOL)
    warm = [_query(r, warm_terms, 2 - i % 2, i == 0, vocab) for i in range(WARMUP)]
    return warm, pool, [pool[i] for i in zipf_order(len(pool), 400)]


def rank_queries(seed: int, vocab: Vocabulary) -> tuple[list[str], list[str]]:
    """(warm-up, stream) for the rank workload: every query distinct, 4-8
    of the HEAD_TERMS highest-df keywords, 1 in 4 with a quoted phrase of two
    head terms, so every phrase misses the phrase cache.  The warm-up
    queries, one of them with a phrase, use the next tier of terms, so the
    head terms start cold."""
    head = vocab.ranked[:HEAD_TERMS]
    nxt = vocab.ranked[HEAD_TERMS:2 * HEAD_TERMS]
    r = rng(seed, "rank")
    stream = _distinct(lambda i: _query(r, head, 4 + i % 5, i % 4 == 3, vocab), 400)
    warm = [_query(r, nxt, 4 + 2 * i, i == 0, vocab) for i in range(WARMUP)]
    return warm, stream


def upsert_batch(seed: int, rows) -> tuple[str, list, list]:
    """(fresh token, batch rows, updated corpus rows).

    About CHANGED_FRAC of the docs get a new commit and the token appended;
    NEW_DOCS new docs carry it too.  The token occurs nowhere else, so a
    search for it must return exactly the batch's docs."""
    r = rng(seed, "upsert")
    token = f"zzfresh{seed}q"
    changed = sorted(r.sample(range(len(rows)), max(1, int(len(rows) * CHANGED_FRAC))))
    batch = []
    updated = list(rows)
    for i in changed:
        repo, path, commit, lang, content = rows[i]
        new = (repo, path, hashlib.sha1(f"{commit}/b{seed}".encode()).hexdigest(),
               lang, f"{content} {token}")
        batch.append(new)
        updated[i] = new
    for j in range(NEW_DOCS):
        src = rows[r.randrange(len(rows))]
        new = ("orgnew/fresh", f"fresh/doc_{seed}_{j}.py",
               hashlib.sha1(f"new/{seed}/{j}".encode()).hexdigest(), "py",
               f"{src[4]} {token}")
        batch.append(new)
        updated.append(new)
    return token, batch, updated
