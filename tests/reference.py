"""Scalar and sort-based reference implementations of the shared
evaluator's vectorized steps (exact phrases, top-k) and of the banded
fuzzy distance. Property tests compare the engine against these:
exact ids, bitwise-equal scores."""

from typing import Tuple

import numpy as np

from lucille_spark import plans as P
from lucille_spark.eval_local import ShardData
from lucille_spark.scoring import term_score_np

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def exact_phrase(
    node: P.PPhrase, sd: ShardData
) -> Tuple[np.ndarray, np.ndarray]:
    """Slop-0 phrase as a per-document loop: a doc's phrase starts are
    the positions p of term 0 with p + k among term k's positions for
    every k; tf = number of starts."""
    assert node.slop == 0
    ps = [sd.postings.get(t) for t in node.terms]
    if any(p is None or not p.ids.size or not p.has_positions() for p in ps):
        return _EMPTY
    ids = ps[0].ids
    for p in ps[1:]:
        ids = np.intersect1d(ids, p.ids, assume_unique=True)
    out_ids, out_tf, out_dl = [], [], []
    for doc in ids:
        rows = [int(np.searchsorted(p.ids, doc)) for p in ps]
        starts = ps[0].pos(rows[0])
        for k in range(1, len(ps)):
            starts = starts[np.isin(starts + k, ps[k].pos(rows[k]))]
        if starts.size:
            out_ids.append(int(doc))
            out_tf.append(int(starts.size))
            out_dl.append(int(ps[0].dls[rows[0]]))
    if not out_ids:
        return _EMPTY
    sc = term_score_np(
        node.sim,
        np.array(out_tf, dtype=np.int64),
        np.array(out_dl, dtype=np.int64),
        node.idf,
        sd.avgdl if node.avgdl is None else node.avgdl,
        node.tw,
    )
    return np.array(out_ids, dtype=np.int64), sc


def top_k(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    """(score desc, doc_id asc) top-k by a full lexsort."""
    order = np.lexsort((ids, -scores))[: max(k, 0)]
    return ids[order], scores[order]


def lev_full_table(
    cands: np.ndarray, term: str, max_edits: int, transpositions: bool
) -> np.ndarray:
    """Levenshtein (or OSA) distance <= max_edits over every cell of
    the (len(term)+1) x (maxlen+1) table, one candidate column vector
    per cell — the unbanded form of reader._lev_batch."""
    n = cands.size
    clens = np.char.str_len(cands.astype(str))
    maxlen = max(int(clens.max()), 1)
    mat = (
        cands.astype(f"U{maxlen}")
        .view(np.uint32)
        .reshape(n, maxlen)
        .astype(np.int64)
    )
    tcodes = np.frombuffer(
        term.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    prev = np.tile(np.arange(maxlen + 1, dtype=np.int64), (n, 1))
    prev2 = None
    for i, tc in enumerate(tcodes, 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(maxlen):
            best = np.minimum(
                np.minimum(prev[:, j + 1] + 1, cur[:, j] + 1),
                prev[:, j] + (mat[:, j] != tc),
            )
            if transpositions and i >= 2 and j >= 1:
                swap = (mat[:, j] == tcodes[i - 2]) & (mat[:, j - 1] == tc)
                best = np.where(
                    swap, np.minimum(best, prev2[:, j - 1] + 1), best
                )
            cur[:, j + 1] = best
        prev2, prev = prev, cur
    return prev[np.arange(n), clens] <= max_edits
