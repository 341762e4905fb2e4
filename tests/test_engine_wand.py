"""WAND/segment executor: rank identity vs oracle on the reference
query set, and pruned == exhaustive (block-max soundness)."""

import pytest

from tests.queryset import REFERENCE_QUERIES


def _ranked(rows, round_to=9):
    return [(int(d), round(float(s), round_to)) for d, s in rows]


@pytest.fixture(scope="module")
def wand(unit_index):
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    return WandExecutor(ix, prune=True), oracle


@pytest.mark.parametrize("q", REFERENCE_QUERIES)
def test_wand_rank_identity(wand, q):
    ex, oracle = wand
    expected = _ranked(oracle.search(q, k=10))
    rows = ex.search(q, k=10).collect()
    got = _ranked([(r["doc_id"], r["score"]) for r in rows])
    assert got == expected, f"query {q!r}"


def test_pruned_equals_exhaustive_direct(unit_index):
    """Drive the pruning kernel directly (single process, so the
    decode counters work) on OR/AND of hot+rare terms and assert it
    equals the exhaustive evaluator — and actually skipped blocks."""
    from lucille_spark import plans as P
    from lucille_spark.eval_local import evaluate, top_k
    from lucille_spark.exec_wand import (
        BlockTable,
        _eval_flat_pruned,
        _flat_terms,
        get_prune_stats,
        reset_prune_stats,
    )
    from tests.blocks import segment_rows

    ix, oracle, stats = unit_index
    sd = oracle.sd

    for qs in ["import OR def OR cats", "import AND cats", "def OR derp OR lerp OR import"]:
        node = oracle.plan(qs)
        flat = _flat_terms(node)
        assert flat is not None, qs
        # real varbyte blocks cut from the oracle postings with block
        # size 16 so pruning has blocks to skip
        terms = sorted({pt.term for pt in flat[1]})
        bt = BlockTable.from_frame(
            segment_rows({t: sd.postings[t] for t in terms}, 16)
        )
        reset_prune_stats()
        ids_p, sc_p = _eval_flat_pruned(flat, bt, sd, 5)
        ids_e, sc_e = evaluate(node, sd)
        top_p = _ranked(zip(*top_k(ids_p, sc_p, 5)))
        top_e = _ranked(zip(*top_k(ids_e, sc_e, 5)))
        assert top_p == top_e, qs
        st = get_prune_stats()
        assert st["decoded_blocks"] <= st["total_blocks"]


def test_wand_prune_vs_noprune_spark(unit_index):
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    for q in ["import OR cats OR derp", "import AND cats", "def import parser"]:
        a = WandExecutor(ix, prune=True).search(q, k=10).collect()
        b = WandExecutor(ix, prune=False).search(q, k=10).collect()
        assert _ranked([(r["doc_id"], r["score"]) for r in a]) == _ranked(
            [(r["doc_id"], r["score"]) for r in b]
        ), q


def test_duplicate_term_queries(unit_index):
    """A repeated term must score once per clause (Lucene sums every
    clause). The pruned kernel keys postings by term string, so it
    must bail to the exhaustive path — previously a flat AND with a
    duplicate returned ZERO rows and a flat OR underscored."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.exec_wand import WandExecutor, _flat_terms

    ix, oracle, stats = unit_index
    for q in ["import AND import AND cats", "import import cats"]:
        node = oracle.plan(q)
        assert _flat_terms(node) is None, q  # dup -> exhaustive path
        expected = _ranked(oracle.search(q, k=10))
        got_w = _ranked(
            [(r["doc_id"], r["score"])
             for r in WandExecutor(ix, prune=True).search(q, k=10).collect()]
        )
        got_d = _ranked(
            [(r["doc_id"], r["score"])
             for r in DataFrameExecutor(ix).search(q, k=10).collect()]
        )
        assert got_w == expected, q
        assert got_d == expected, q
        assert len(expected) > 0, q


def test_pure_negative_bool_matches_nothing(unit_index):
    """Lucene BooleanQuery with only MUST_NOT clauses matches nothing
    (standalone `NOT x` is the documented complement deviation, but a
    pure-negative *list* is empty). All three evaluators agree."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    q = "-import -cats"
    from lucille_spark.parser import parse

    raw = oracle.planner._plan(parse(q))
    assert isinstance(raw, P.PBool)
    assert not raw.must and not raw.should and len(raw.must_not) == 2
    # the optimizer pass folds the no-positive-clause boolean to an
    # explicit match-nothing (zero scans), preserving the semantics
    assert isinstance(oracle.plan(q), P.PMatchNone)
    assert oracle.search(q, k=10) == []
    assert WandExecutor(ix).search(q, k=10).collect() == []
    assert DataFrameExecutor(ix).search(q, k=10).collect() == []


def test_plan_meta_group_unary_plus(unit_index):
    """field:(+a b) keeps +a as MUST on the metadata path (the
    Group-unwrapped child is checked, matching _plan_bool)."""
    from lucille_spark import plans as P

    ix, oracle, stats = unit_index
    node = oracle.plan("lang:((+python) scala)")
    assert isinstance(node, P.PBool)
    assert len(node.must) == 1 and len(node.should) == 1


def test_boosted_terms_take_pruned_path(unit_index):
    """Boosts fold into idf (BM25 is linear in idf), so boosted flat
    booleans run the block-max kernel and stay rank-identical."""
    from lucille_spark import plans as P
    from lucille_spark.exec_wand import WandExecutor, _flat_terms

    ix, oracle, stats = unit_index
    for q in [
        "import^3 OR cats^0.5",
        "import^2 AND cats",
        "(import OR cats)^2",
        "import^2 OR cats OR def^0.25",
    ]:
        node = oracle.plan(q)
        flat = _flat_terms(node)
        assert flat is not None, q
        expected = _ranked(oracle.search(q, k=10))
        got = _ranked(
            [(r["doc_id"], r["score"])
             for r in WandExecutor(ix, prune=True).search(q, k=10).collect()]
        )
        assert got == expected, q
    # duplicate boosted term still bails (multiplicity)
    assert _flat_terms(oracle.plan("import^2 OR import")) is None


def test_search_many_matches_individual(unit_index):
    """One-job batch evaluation is rank-identical to per-query
    search for every shape in the batch (incl. positional and
    universe-needing queries sharing one decode pass)."""
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    ex = WandExecutor(ix)
    batch = {
        "t": "import",
        "a": "import AND cats",
        "o": "import cats dogs",
        "p": '"import os"',
        "n": "import AND NOT cats",
        "z": "zzznotinthedictionary",   # planless/empty query in batch
    }
    got = {}
    for r in ex.search_many(batch, k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    for qid, q in batch.items():
        solo = [
            (r["doc_id"], round(r["score"], 9))
            for r in ex.search(q, k=10).collect()
        ]
        assert got.get(qid, []) == solo, qid


def test_mine_hard_negatives(wand):
    """Hard-negative mining rides search_many: per-query ranks are
    1..k in (rounded score desc, doc_id) order, rank 1 is the only
    positive, and per-query members equal individual searches."""
    from lucille_spark.search_features import mine_hard_negatives

    ex, oracle = wand
    out = mine_hard_negatives(
        ex, {"q1": "cats AND dogs", "q2": "spark parser"}, k=5, n_pos=1
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {"q1", "q2"}
    for qid, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [r["label"] for r in rows] == ["pos"] + ["neg"] * (
            len(rows) - 1
        )
        keys = [(-r["score"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)
    exp1 = [int(d) for d, _ in oracle.search("cats AND dogs", k=5)]
    assert [
        r["doc_id"] for r in sorted(by_q["q1"], key=lambda r: r["rank"])
    ] == exp1
