"""Properties of the shared evaluator's whole-array passes (hypothesis;
pure numpy, no Spark session): the exact-phrase pass, the dense
conjunction and the O(n) top-k each equal their reference with exact
ids and bitwise-equal scores; the banded fuzzy distance equals the
full table."""

import random
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import lucille_spark.eval_local as E
from lucille_spark import plans as P
from lucille_spark.eval_local import Posting, ShardData, evaluate, top_k
from lucille_spark.index.reader import _lev_batch
from lucille_spark.scoring import idf as _idf
from tests import reference


def _same(got, want):
    """Exact ids, bitwise-equal scores."""
    g_ids, g_sc = got
    w_ids, w_sc = want
    assert g_ids.dtype == np.int64 and g_sc.dtype == np.float64
    assert g_ids.tolist() == w_ids.tolist()
    assert g_sc.tobytes() == w_sc.astype(np.float64).tobytes()


# ------------------------------------------------------ exact phrases


def _phrase_corpus(seed: int, n_docs: int, n_vocab: int, p_drop: float):
    """Random token docs over a tiny vocabulary (so phrases and
    repeated terms match often), sparse ascending doc ids, and each
    term's positions in list or CSR shape at random. A (doc, term)
    posting loses its positions with probability `p_drop` (a doc
    without positions)."""
    rng = np.random.default_rng(seed)
    doc_ids = np.cumsum(rng.integers(1, 4, size=n_docs)).astype(np.int64)
    vocab = [f"w{i}" for i in range(n_vocab)]
    rows = {t: [] for t in vocab}
    dls = []
    for d in doc_ids:
        toks = rng.integers(0, n_vocab, size=int(rng.integers(0, 25)))
        dls.append(toks.size)
        for v in np.unique(toks):
            pos = np.flatnonzero(toks == v).astype(np.int64)
            if rng.random() < p_drop:
                pos = pos[:0]
            rows[vocab[v]].append((d, int((toks == v).sum()), pos, toks.size))
    postings = {}
    for t, rs in rows.items():
        if not rs:
            continue
        p = Posting(
            ids=np.array([r[0] for r in rs], dtype=np.int64),
            tfs=np.array([r[1] for r in rs], dtype=np.int64),
            dls=np.array([r[3] for r in rs], dtype=np.int64),
            positions=[r[2] for r in rs],
        )
        if rng.random() < 0.5:
            p.csr()
            p.positions = None
        postings[t] = p
    sd = ShardData(avgdl=float(np.mean(dls) or 1.0), postings=postings)
    return sd, vocab


@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 60),
    n_vocab=st.integers(1, 4),
    n_terms=st.integers(1, 3),
    p_drop=st.sampled_from([0.0, 0.0, 0.3]),
    sim=st.sampled_from(["bm25", "tfidf", "lmd"]),
)
@settings(max_examples=200, deadline=None)
def test_exact_phrase_equals_reference(
    seed, n_docs, n_vocab, n_terms, p_drop, sim
):
    sd, vocab = _phrase_corpus(seed, n_docs, n_vocab, p_drop)
    rng = random.Random(seed)
    # repeated terms ("a a") come from drawing with replacement; an
    # absent term now and then
    terms = tuple(
        rng.choice(vocab + ["absent"] if rng.random() < 0.05 else vocab)
        for _ in range(n_terms)
    )
    node = P.PPhrase(terms, 0, 1.7, tw=0.01 if sim == "lmd" else 0.0, sim=sim)
    _same(evaluate(node, sd), reference.exact_phrase(node, sd))


def test_exact_phrase_examples():
    docs = ["a a a b", "b a a", "a b a b a b", "c a b c", "a"]
    post = {}
    for d, text in enumerate(docs):
        toks = text.split()
        for t in sorted(set(toks)):
            pos = np.array([i for i, x in enumerate(toks) if x == t])
            post.setdefault(t, []).append((d, pos, len(toks)))
    sd = ShardData(avgdl=3.0, postings={
        t: Posting(
            ids=np.array([r[0] for r in rs], dtype=np.int64),
            tfs=np.array([r[1].size for r in rs], dtype=np.int64),
            dls=np.array([r[2] for r in rs], dtype=np.int64),
            positions=[r[1] for r in rs],
        )
        for t, rs in post.items()
    })

    def tf(*terms):
        node = P.PPhrase(terms, 0, 1.0)
        ids, _ = evaluate(node, sd)
        return {
            int(d): int(n)
            for d, n in zip(ids, E._exact_phrase_tf(
                terms,
                [sd.postings[t] for t in terms],
                [np.searchsorted(sd.postings[t].ids, ids) for t in terms],
            ))
        }

    assert tf("a", "a") == {0: 2, 1: 1}
    assert tf("a", "b") == {0: 1, 2: 3, 3: 1}
    assert tf("a", "b", "a") == {2: 2}
    assert tf("c", "a", "b") == {3: 1}
    assert tf("a", "a", "a") == {0: 1}


# ------------------------------------------------ dense conjunctions


def _bool_corpus(seed: int, n_docs: int, n_terms: int, base: int):
    rng = np.random.default_rng(seed)
    dls = rng.integers(5, 200, size=n_docs).astype(np.int64)
    postings = {}
    for t in range(n_terms):
        df = int(rng.integers(0, n_docs + 1))
        rows = np.sort(rng.choice(n_docs, size=df, replace=False))
        postings[f"t{t}"] = Posting(
            ids=rows.astype(np.int64) + base,
            tfs=rng.integers(1, 8, size=df).astype(np.int64),
            dls=dls[rows],
        )
    sd = ShardData(
        avgdl=float(dls.mean()),
        postings=postings,
        all_ids=np.arange(n_docs, dtype=np.int64) + base,
        all_dls=dls,
    )
    return sd


@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 400),
    n_must=st.integers(1, 4),
    n_should=st.integers(0, 3),
    n_not=st.integers(0, 1),
    min_should=st.integers(0, 2),
    base=st.sampled_from([0, 7, 1 << 40]),
)
@settings(max_examples=200, deadline=None)
def test_dense_conjunction_equals_sort_based(
    seed, n_docs, n_must, n_should, n_not, min_should, base
):
    n_terms = n_must + n_should + n_not
    sd = _bool_corpus(seed, n_docs, n_terms, base)
    rng = random.Random(seed)
    terms = [
        P.PTerm(t, _idf(max(p.ids.size, 1), n_docs) * rng.uniform(0.5, 2))
        for t, p in sd.postings.items()
    ]
    node = P.PBool(
        tuple(terms[:n_must]),
        tuple(terms[n_must:n_must + n_should]),
        tuple(terms[n_must + n_should:]),
        min_should,
    )
    got = evaluate(node, sd)
    for p in sd.postings.values():
        p.score_memo = None
    with mock.patch.object(E, "_span_ok", lambda lo, hi, total: False):
        want = evaluate(node, sd)
    _same(got, want)


def test_single_must_returns_its_arrays():
    sd = _bool_corpus(3, 50, 2, 0)
    a, b = (P.PTerm(t, 1.5) for t in sd.postings)
    t_ids, t_sc = evaluate(a, sd)
    assert t_ids.size
    ids, sc = evaluate(P.PBool((a,), (), (), 0), sd)
    assert ids is t_ids and sc is t_sc
    ids, sc = evaluate(P.PBool((a,), (), (b,), 0), sd)
    keep = ~np.isin(t_ids, sd.postings["t1"].ids)
    _same((ids, sc), (t_ids[keep], t_sc[keep]))


# -------------------------------------------------------------- top_k


@given(
    seed=st.integers(0, 100_000),
    n=st.integers(0, 300),
    k=st.integers(-2, 350),
    kind=st.sampled_from(["ties", "all_equal", "random"]),
)
@settings(max_examples=300, deadline=None)
def test_top_k_equals_full_lexsort(seed, n, k, kind):
    rng = np.random.default_rng(seed)
    ids = np.sort(
        rng.choice(10 * n + 1, size=n, replace=False)
    ).astype(np.int64)
    if kind == "ties":
        scores = rng.choice([0.25, 0.5, 1.0, 3.0], size=n)
    elif kind == "all_equal":
        scores = np.full(n, 0.7)
    else:
        scores = rng.random(n)
    _same(top_k(ids, scores, k), reference.top_k(ids, scores, k))


# ---------------------------------------------------- banded fuzzy


@pytest.mark.parametrize("transpositions", [False, True])
def test_banded_fuzzy_equals_full_table(transpositions):
    rng = random.Random(11 + transpositions)
    alpha = "abcdü"
    for _ in range(1500):
        cands = np.array(
            [
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
                for _ in range(rng.randint(1, 20))
            ] + ["x"],
            dtype=object,
        )
        term = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
        e = rng.randint(0, 3)
        got = _lev_batch(cands, term, e, transpositions)
        want = reference.lev_full_table(cands, term, e, transpositions)
        assert got.tolist() == want.tolist(), (term, e, cands)
