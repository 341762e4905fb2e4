"""Property test: block-max pruned evaluation == exhaustive
evaluation on RANDOM posting sets and random flat boolean queries
(hypothesis; pure numpy — no Spark session needed)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucille_spark import plans as P
from lucille_spark.eval_local import Posting, ShardData, evaluate, top_k
from lucille_spark.scoring import idf as _idf
from tests.blocks import segment_rows


def _mk_corpus(rng_seed: int, n_docs: int, n_terms: int):
    rng = np.random.default_rng(rng_seed)
    postings = {}
    dls = rng.integers(5, 200, size=n_docs).astype(np.int64)
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(
            np.int64
        )
        tfs = rng.integers(1, 8, size=df).astype(np.int64)
        postings[f"t{t}"] = Posting(
            ids=ids, tfs=tfs, dls=dls[ids]
        )
    sd = ShardData(avgdl=float(dls.mean()), postings=postings)
    return sd, n_docs


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(20, 300),
    n_terms=st.integers(2, 6),
    is_and=st.booleans(),
    k=st.integers(1, 10),
    block=st.sampled_from([4, 16, 64]),
)
@settings(max_examples=60, deadline=None)
def test_pruned_equals_exhaustive_random(seed, n_docs, n_terms, is_and, k, block):
    import lucille_spark.exec_wand as W

    sd, n = _mk_corpus(seed, n_docs, n_terms)
    pterms = [
        P.PTerm(t, _idf(p.ids.size, n)) for t, p in sd.postings.items()
    ]
    if is_and:
        node = P.PBool(tuple(pterms), (), (), 0)
        flat = ("and", pterms)
    else:
        node = P.PBool((), tuple(pterms), (), 1)
        flat = ("or", pterms)

    # real varbyte blocks: the property covers the decoder too
    bt = W.BlockTable.from_frame(segment_rows(sd.postings, block))
    ids_p, sc_p = W._eval_flat_pruned(flat, bt, sd, k)
    ids_e, sc_e = evaluate(node, sd)

    tp = list(zip(*[a.tolist() for a in top_k(ids_p, sc_p, k)]))
    te = list(zip(*[a.tolist() for a in top_k(ids_e, sc_e, k)]))
    got = [(d, round(s, 9)) for d, s in tp]
    exp = [(d, round(s, 9)) for d, s in te]
    assert got == exp
