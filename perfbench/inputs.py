"""Seeded benchmark inputs: the corpus and the query stream.

The corpus is `lucille_spark.fixtures.generate_docs` (code-shaped text,
Zipf-skewed terms). The query stream draws from a pool of distinct
queries four times larger than the executors' 64-entry plan caches,
split into equal per-shape sub-pools, so a run mixes first-seen (cold)
and repeated queries. Everything is a pure function of the seed.

The mix is an assumption, not a measured traffic log: every shape has
the same share, and query terms follow Zipf popularity over the
fixture vocabulary in the corpus's own frequency order. The per-shape
layer metrics show what each shape costs.

Terms are drawn by stratified sampling: in a sub-pool of n queries,
each term slot takes one uniform from each of n equal strata of [0, 1),
in a seeded order, and maps it through the Zipf CDF. Every draw still
follows the Zipf law, but each sub-pool holds hot, mid and rare terms
in the law's own proportions, so the work a pool asks for, and with it
the latency percentiles, moves much less from seed to seed than with
independent draws.
"""

from __future__ import annotations

from collections import Counter, OrderedDict
from typing import Dict, List, NamedTuple, Sequence, Set

import numpy as np

from lucille_spark.fixtures import HOT_TERMS, MID_TERMS, RARE_TERMS

SHAPES = ("term", "and", "or", "phrase", "bool_not", "prefix", "fuzzy")
PLAN_CACHE_ENTRIES = 64  # DataFrameExecutor / WandExecutor PLAN_CACHE_MAX
POOL_SIZE = 4 * PLAN_CACHE_ENTRIES
SUB_POOL = -(-POOL_SIZE // len(SHAPES))  # distinct queries per shape
SLOTS = 3  # most terms a generated query draws
TERM_ZIPF_S = 1.0  # popularity of the i-th vocabulary term ~ 1 / (i + 1)^s
PHRASE_HEADS = ("def", "return")  # open a line in the corpus's template

VOCAB = tuple(HOT_TERMS) + tuple(MID_TERMS) + tuple(RARE_TERMS)
_INDEX = {t: i for i, t in enumerate(VOCAB)}
_LENS = np.array([len(t) for t in VOCAB])


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


_TERM_W = zipf_weights(len(VOCAB), TERM_ZIPF_S)


class Query(NamedTuple):
    text: str
    shape: str
    n_terms: int


def pick(u: float, exclude: Set[str] = frozenset(), min_len: int = 0) -> str:
    """The term at quantile `u` of the Zipf law, restricted to terms of
    `min_len`+ letters outside `exclude` (the same law as redrawing
    until a term qualifies)."""
    w = np.where(_LENS >= min_len, _TERM_W, 0.0)
    w[[_INDEX[t] for t in exclude]] = 0.0
    c = np.cumsum(w)
    return VOCAB[int(np.searchsorted(c, u * c[-1], side="right"))]


class _Draw:
    def __init__(self, rng: np.random.Generator):
        self.r = rng

    def typo(self, t: str) -> str:
        """`t` (5+ letters) with one deletion or substitution."""
        i = int(self.r.integers(1, len(t) - 1))
        if self.r.random() < 0.5:
            return t[:i] + t[i + 1:]
        c = "abcdefghijklmnopqrstuvwxyz"[self.r.integers(26)]
        return t[:i] + c + t[i + 1:]  # may be a no-op

    def query(self, shape: str, u: Sequence[float], skip: Set[str]) -> tuple:
        """-> (query, its first term). `u` holds one quantile per term
        slot; `skip` holds first terms that gave a duplicate query."""
        a = pick(u[0], (skip | set(PHRASE_HEADS)) if shape == "phrase" else skip,
                 {"prefix": 4, "fuzzy": 5}.get(shape, 0))
        if shape == "term":
            return Query(a, shape, 1), a
        if shape in ("and", "bool_not"):
            b = pick(u[1], {a})
            return Query(f"{a} AND {'NOT ' if shape == 'bool_not' else ''}{b}", shape, 2), a
        if shape == "or":
            ts = [a]
            for x in u[1:int(self.r.integers(2, 4))]:
                ts.append(pick(x, set(ts)))
            return Query(" OR ".join(ts), shape, len(ts)), a
        if shape == "phrase":
            head = PHRASE_HEADS[int(self.r.integers(len(PHRASE_HEADS)))]
            return Query(f'"{head} {a}"', shape, 2), a
        if shape == "prefix":
            return Query(a[:3] + "*", shape, 1), a
        if shape == "fuzzy":
            return Query(self.typo(a) + "~1", shape, 1), a
        raise ValueError(shape)


def make_pool(seed: int) -> Dict[str, List[Query]]:
    """SUB_POOL distinct queries per shape, with stratified term draws.
    A query that repeats an earlier one is drawn again at the same
    quantiles without its first term."""
    d = _Draw(np.random.default_rng(np.random.PCG64(seed)))
    n = SUB_POOL
    pool: Dict[str, List[Query]] = {}
    seen: Set[str] = set()
    for sh in SHAPES:
        us = (np.stack([d.r.permutation(n) for _ in range(SLOTS)], axis=1)
              + d.r.random((n, SLOTS))) / n
        sub: List[Query] = []
        for u in us:
            skip: Set[str] = set()
            q, first = d.query(sh, u, skip)
            while q.text in seen:
                skip.add(first)
                q, first = d.query(sh, u, skip)
            seen.add(q.text)
            sub.append(q)
        pool[sh] = sub
    return pool


def make_stream(pool: Dict[str, List[Query]], seed: int, n: int) -> List[Query]:
    """`n` requests: shapes take turns in SHAPES order, so every run
    has the same mix; within a shape, every sub-pool entry is equally
    likely."""
    r = np.random.default_rng(np.random.PCG64(seed))
    per_shape = -(-n // len(SHAPES))
    draws = {sh: iter(r.integers(len(sub), size=per_shape).tolist())
             for sh, sub in pool.items()}
    return [pool[sh][next(draws[sh])] for sh in (SHAPES[i % len(SHAPES)] for i in range(n))]


def lru_repeat_ratio(texts: List[str], entries: int = PLAN_CACHE_ENTRIES) -> float:
    """Share of requests an `entries`-slot LRU keyed on the query
    string would answer from cache."""
    lru: "OrderedDict[str, None]" = OrderedDict()
    hits = 0
    for t in texts:
        if t in lru:
            hits += 1
            lru.move_to_end(t)
        else:
            lru[t] = None
            if len(lru) > entries:
                lru.popitem(last=False)
    return hits / len(texts) if texts else 0.0


def stream_properties(stream: List[Query]) -> dict:
    texts = [q.text for q in stream]
    counts = Counter(q.shape for q in stream)
    return {
        "requests": len(stream),
        "distinct": len(set(texts)),
        "per_shape": {s: counts.get(s, 0) for s in SHAPES},
        "mean_terms": (
            sum(q.n_terms for q in stream) / len(stream) if stream else 0.0
        ),
        "lru64_repeat_ratio": lru_repeat_ratio(texts),
    }
