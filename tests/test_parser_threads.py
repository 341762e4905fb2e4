"""Concurrent parsing and embedded search must give the sequential
answers exactly.

`parse` and `with_default_operator_and().parse` are shared
module-level parsers, and `Searcher(warm=True)` warmups, the `submit()`
flush timer and serving threads all parse at once. 16 threads each run
their own distinct queries (repeated, to keep many parses in flight)
through both parsers and through `LocalSearcher.search` with
predecode=True and predecode=False; every answer must equal the one a
single thread got. The interpreter's thread switch interval is cut to
1 µs for the run so that threads interleave inside a parse.
"""

import gzip
import json
import os
import sys
import threading

import pytest

from lucille_spark.parser import ParseError, parse, with_default_operator_and

THREADS = 16
ROUNDS = 3
CORPUS = os.path.join(os.path.dirname(__file__), "data", "parser_golden.json.gz")

TERMS = [
    "spark", "parser", "query", "window", "table", "batch", "stream",
    "class", "index", "score", "merge", "segment", "block", "shard",
    "lexer", "module",
]


def _search_queries():
    """4 distinct queries per thread, every perfbench shape."""
    out = []
    for i, a in enumerate(TERMS):
        b, c = TERMS[(i + 3) % len(TERMS)], TERMS[(i + 7) % len(TERMS)]
        out.append([
            f"{a} AND {b}" if i % 2 else f'"def {a}"',
            f"{a} OR {b} OR {c}" if i % 3 else f"{a} AND NOT {b}",
            f"{a[:3]}*" if i % 2 else f"{a[:2]}{a[3:]}~1",
            f"({a} OR {c}) AND {b}" if i % 2 else a,
        ])
    return out


def _concurrent_mismatches(per_thread, fn, concurrent_fn=None):
    """Sequential answers of `fn` over each thread's queries, then
    every thread answers its own queries ROUNDS times at once with
    `concurrent_fn` (default `fn`) -> (sequential answers per thread,
    [(query, sequential, concurrent)] that differ). Re-raises the first
    exception a thread hit."""
    want = [[fn(q) for q in qs] for qs in per_thread]
    concurrent_fn = concurrent_fn or fn
    got = [None] * len(per_thread)
    errors = []
    start = threading.Barrier(len(per_thread), timeout=60)

    def run(t):
        try:
            start.wait()
            got[t] = [concurrent_fn(q) for _ in range(ROUNDS) for q in per_thread[t]]
        except BaseException as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(t,)) for t in range(len(per_thread))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads), "threads did not finish"
    if errors:
        raise errors[0]
    return want, [
        (q, w, g)
        for qs, ws, gs in zip(per_thread, want, got)
        for q, w, g in zip(qs * ROUNDS, ws * ROUNDS, gs)
        if w != g
    ]


@pytest.fixture(scope="module")
def parse_inputs():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as f:
        rows = json.load(f)
    # short inputs (deep nesting would dominate the run), distinct per thread
    qs = [r[0] for r in rows if len(r[0]) <= 60]
    per = 120
    assert len(qs) >= THREADS * per
    return [qs[t * per:(t + 1) * per] for t in range(THREADS)]


@pytest.mark.parametrize("which", ["or", "and"])
def test_parse_threads_match_sequential(parse_inputs, which):
    parser = parse if which == "or" else with_default_operator_and().parse

    def outcome(q):
        try:
            return repr(parser(q))
        except ParseError as e:
            return ("err", e.offset, str(e))

    _, bad = _concurrent_mismatches(parse_inputs, outcome)
    assert not bad, f"{len(bad)} concurrent parses differ, first: {bad[:3]}"


@pytest.mark.parametrize("predecode", [True, False], ids=["predecode", "blocks"])
def test_local_search_threads_match_sequential(spark, unit_index, predecode):
    from lucille_spark.local_serve import LocalSearcher

    ix, _, _ = unit_index

    def answers(searcher):
        def rows(q):
            df = searcher.search(q, k=10)
            return list(zip(df["doc_id"].astype(int).tolist(), df["score"].astype(float).tolist()))
        return rows

    want, bad = _concurrent_mismatches(
        _search_queries(),
        answers(LocalSearcher(spark, ix.dir, predecode=predecode)),
        # a fresh searcher, so lazy position loads run concurrently too
        answers(LocalSearcher(spark, ix.dir, predecode=predecode)),
    )
    assert not bad, f"{len(bad)} concurrent searches differ, first: {bad[:2]}"
    # the comparison is not vacuous: 62 of the 64 queries match docs
    assert sum(1 for ws in want for w in ws if w) >= 60
