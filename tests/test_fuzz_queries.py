"""Seeded random-query fuzz: generated boolean/positional/expansion
query strings must be rank-identical between both executors and the
numpy oracle. Deterministic (seeded) so failures reproduce; the
generator covers nesting shapes the hand-written suites don't."""

import os
import random

import pytest

# fresh-seed runs: LUCILLE_FUZZ_SEED=<n> python -m pytest
# tests/test_fuzz_queries.py — same harness, new query corpus
_SEED = int(os.environ.get("LUCILLE_FUZZ_SEED", "7"))

VOCAB = [
    "cats", "dogs", "derp", "lerp", "slerp", "the", "cat", "jumped",
    "ocean", "fish", "test", "one", "two", "blue", "crab", "animals",
]


def _gen(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.35:
        t = rng.choice(VOCAB)
        kind = rng.random()
        if kind < 0.55:
            return t
        if kind < 0.65:
            return f"{t}^{rng.choice(['2', '0.5', '3.0'])}"
        if kind < 0.75:
            return f'"{t} {rng.choice(VOCAB)}"'
        if kind < 0.82:
            return t[: max(2, len(t) - 2)] + "*"
        if kind < 0.88:
            return f"{t}~1"
        if kind < 0.94:
            return f"*{t[-3:]}"
        return f"[{min(t, 'm')} TO {max(t, 'm')}]"
    a = _gen(rng, depth - 1)
    b = _gen(rng, depth - 1)
    op = rng.random()
    if op < 0.3:
        return f"({a}) AND ({b})"
    if op < 0.55:
        return f"({a}) OR ({b})"
    if op < 0.68:
        return f"({a}) {b}"
    if op < 0.78:
        return f"({a}) AND NOT ({b})"
    if op < 0.88:
        c = rng.choice(VOCAB)
        return f"(({a}) ({b}) {c})@2"
    return f"+({a}) -({b})"


def _queries(seed: int, n: int, depth: int = 3):
    rng = random.Random(seed)
    return [_gen(rng, depth) for _ in range(n)]


def _ranked(rows, round_to=9):
    return [(int(d), round(float(s), round_to)) for d, s in rows]


@pytest.mark.parametrize("q", _queries(_SEED, 30))
def test_fuzz_rank_identity_df(unit_index, q):
    from lucille_spark.exec_df import DataFrameExecutor

    ix, oracle, _ = unit_index
    expected = _ranked(oracle.search(q, k=10))
    rows = DataFrameExecutor(ix).search(q, k=10).collect()
    got = _ranked([(r["doc_id"], r["score"]) for r in rows])
    assert got == expected, q


@pytest.mark.parametrize("q", _queries(_SEED + 16, 12))
def test_fuzz_rank_identity_wand(unit_index, q):
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, _ = unit_index
    expected = _ranked(oracle.search(q, k=10))
    rows = WandExecutor(ix, prune=True).search(q, k=10).collect()
    got = _ranked([(r["doc_id"], r["score"]) for r in rows])
    assert got == expected, q


def test_fuzz_evaluate_ids_strictly_ascending(spark, unit_index):
    """`top_k` takes the boundary ties in input order, so every
    evaluated result it sees must list strictly ascending (hence
    unique) doc ids: on the oracle's postings and on the resident
    postings of the embedded searcher."""
    from lucille_spark.eval_local import evaluate
    from lucille_spark.local_serve import LocalSearcher

    ix, oracle, _ = unit_index
    local = LocalSearcher(spark, ix.dir, predecode=True)
    for q in _queries(_SEED, 30) + _queries(_SEED + 16, 12):
        for plan, sd in ((oracle.plan(q), oracle.sd),
                         (local.ix.plan(q), local._sd)):
            ids, scores = evaluate(plan, sd)
            assert ids.dtype.kind == "i" and ids.size == scores.size, q
            assert (ids[1:] > ids[:-1]).all(), q
