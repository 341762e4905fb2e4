"""Numpy posting-level evaluator for a physical query tree.

This is the SINGLE evaluation kernel shared by:

  * the single-node brute-force oracle (tests/oracle.py builds a
    ``ShardData`` from raw docs and calls :func:`evaluate`), and
  * the distributed executor: each doc-shard's ``applyInPandas``
    kernel decodes its posting blocks into a ``ShardData`` and calls
    the same :func:`evaluate` (exec_wand.py).

One evaluator, two data paths -> the distributed engine cannot
semantically drift from the oracle; only block decoding and the
shard/merge plumbing differ (and those are property-tested).

All arrays are numpy (ids int64 sorted ascending, scores float64);
no per-row Python loops except over *query* terms / child nodes
(tiny). Scoring per lucille_spark.scoring.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np

from lucille_spark import plans as P
from lucille_spark.scoring import term_score_np


@dataclass
class Posting:
    ids: np.ndarray            # int64, sorted ascending, unique
    tfs: np.ndarray            # int64 aligned
    dls: np.ndarray            # int64 aligned (doc length)
    positions: Optional[list] = None  # list of int64 arrays, aligned
    # CSR alternative to `positions` (one flat array + row bounds):
    # doc i's positions are pos_flat[pos_bounds[i]:pos_bounds[i+1]].
    # Predecoded resident postings use this shape — one array object
    # instead of millions of tiny per-doc arrays (memory + decode
    # speed); transient per-query postings keep the list shape.
    pos_flat: Optional[np.ndarray] = None
    pos_bounds: Optional[np.ndarray] = None
    # single-entry memo for the term score array: resident postings
    # (LocalSearcher predecode) answer repeated queries, and a term's
    # (sim, idf, avgdl, tw) is fixed per index, so the vectorized
    # BM25 over a big posting list computes once, not per query
    score_memo: Optional[tuple] = None

    def has_positions(self) -> bool:
        return self.positions is not None or self.pos_flat is not None

    def pos(self, i: int) -> np.ndarray:
        """Positions of the i-th posting (either representation)."""
        if self.pos_flat is not None:
            b = self.pos_bounds
            return self.pos_flat[b[i]:b[i + 1]]
        return self.positions[i]


@dataclass
class ShardData:
    """Everything one shard needs to evaluate any physical tree."""

    avgdl: float                      # GLOBAL average doc length
    postings: Dict[str, Posting] = field(default_factory=dict)
    all_ids: Optional[np.ndarray] = None   # shard universe (sorted)
    all_dls: Optional[np.ndarray] = None
    meta: Dict[str, np.ndarray] = field(default_factory=dict)
    # lazy-positions hook: when a phrase needs positions a posting
    # doesn't carry, the evaluator calls pos_loader(term) -> Posting
    # (or None). Lets a resident ShardData (LocalSearcher predecode)
    # defer the positions decode — the bulk of warm-up time and
    # memory — to the first phrase query that touches each term,
    # WITHOUT a correctness cliff if callers bypass the searcher.
    pos_loader: Optional[object] = None


_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _member(sub: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Boolean mask: which of sorted `sub` are in sorted `sorted_ids`."""
    if sorted_ids.size == 0 or sub.size == 0:
        return np.zeros(sub.size, dtype=bool)
    pos = np.searchsorted(sorted_ids, sub)
    pos[pos == sorted_ids.size] = sorted_ids.size - 1
    return sorted_ids[pos] == sub


def evaluate(node: P.PNode, sd: ShardData) -> Tuple[np.ndarray, np.ndarray]:
    """-> (doc_ids sorted asc, scores float64 aligned)."""
    if isinstance(node, P.PMatchNone):
        return _EMPTY
    if isinstance(node, P.PMatchAll):
        ids = _universe(sd)
        return ids, np.ones(ids.size, dtype=np.float64)
    if isinstance(node, P.PTerm):
        p = sd.postings.get(node.term)
        if p is None or p.ids.size == 0:
            return _EMPTY
        key = (node.sim, node.idf, node.avgdl, node.tw)
        memo = p.score_memo
        if memo is not None and memo[0] == key:
            return p.ids, memo[1]
        sc = term_score_np(
            node.sim, p.tfs, p.dls, node.idf,
            sd.avgdl if node.avgdl is None else node.avgdl,
            node.tw,
        )
        p.score_memo = (key, sc)
        return p.ids, sc
    if isinstance(node, P.PExpand):
        arrs = [
            sd.postings[t].ids
            for t in node.terms
            if t in sd.postings and sd.postings[t].ids.size
        ]
        if not arrs:
            return _EMPTY
        ids = arrs[0] if len(arrs) == 1 else _union_sorted(arrs)
        return ids, np.ones(ids.size, dtype=np.float64)
    if isinstance(node, P.PPhrase):
        return _eval_phrase(node, sd)
    if isinstance(node, P.PSynonym):
        return _eval_synonym(node, sd)
    if isinstance(node, P.PMetaFilter):
        return _eval_meta(node, sd)
    if isinstance(node, P.PNot):
        ids, _ = evaluate(node.child, sd)
        uni = _universe(sd)
        keep = uni[~_member(uni, ids)]
        return keep, np.ones(keep.size, dtype=np.float64)
    if isinstance(node, P.PBoost):
        ids, sc = evaluate(node.child, sd)
        return ids, sc * node.factor
    if isinstance(node, P.PBool):
        return _eval_bool(node, sd)
    if isinstance(node, P.PDisMax):
        return _eval_dismax(node, sd)
    raise TypeError(f"unknown physical node {type(node).__name__}")


def _universe(sd: ShardData) -> np.ndarray:
    if sd.all_ids is None:
        raise ValueError("shard universe not loaded but required")
    return sd.all_ids


def _span_ok(lo: int, hi: int, total: int) -> bool:
    """Dense-scatter guard: doc ids within one shard are assigned
    contiguously (builder), so the id span is ~shard size and a
    span-length accumulator is small. If ids were sparse (span much
    larger than the number of postings), fall back to sort-based
    set ops rather than allocate a huge array."""
    return (hi - lo + 1) <= max(4 * total, 1 << 16)


def _union_sorted(arrs: List[np.ndarray]) -> np.ndarray:
    """Union of sorted unique int64 arrays. Dense id ranges use a
    presence scatter (O(n), the common shard shape); sparse ranges
    fall back to np.unique."""
    lo = min(int(a[0]) for a in arrs)
    hi = max(int(a[-1]) for a in arrs)
    total = sum(a.size for a in arrs)
    if _span_ok(lo, hi, total):
        pres = np.zeros(hi - lo + 1, dtype=bool)
        for a in arrs:
            pres[a - lo] = True
        return np.flatnonzero(pres) + lo
    return np.unique(np.concatenate(arrs))


def _eval_bool(node: P.PBool, sd: ShardData) -> Tuple[np.ndarray, np.ndarray]:
    must = [evaluate(c, sd) for c in node.must]
    should = [evaluate(c, sd) for c in node.should]

    if must:
        ids = must[0][0]
        for m_ids, _ in must[1:]:
            ids = np.intersect1d(ids, m_ids, assume_unique=True)
        if node.min_should > 0 and should:
            cnt = np.zeros(ids.size, dtype=np.int64)
            for s_ids, _ in should:
                cnt += _member(ids, s_ids)
            ids = ids[cnt >= node.min_should]
    else:
        if not should:
            return _EMPTY
        need = max(node.min_should, 1)
        nz = [s for s in should if s[0].size]
        if not nz:
            return _EMPTY
        lo = min(int(s[0][0]) for s in nz)
        hi = max(int(s[0][-1]) for s in nz)
        total = sum(s[0].size for s in nz)
        if _span_ok(lo, hi, total):
            # dense scatter: per doc the child scores add in the
            # same (child) order as the gather loop below, so the
            # float result is bitwise identical — just O(n) instead
            # of sort-based unique + per-child searchsorted
            acc = np.zeros(hi - lo + 1, dtype=np.float64)
            cnt = np.zeros(hi - lo + 1, dtype=np.int32)
            for s_ids, s_sc in nz:
                off = s_ids - lo
                acc[off] += s_sc
                cnt[off] += 1
            m = np.flatnonzero(cnt >= need)
            ids, scores = m + lo, acc[m]
            return _apply_must_not(node, sd, ids, scores)
        cat = np.concatenate([s[0] for s in should])
        uniq, counts = np.unique(cat, return_counts=True)
        ids = uniq[counts >= need]

    if ids.size == 0:
        return _EMPTY

    scores = np.zeros(ids.size, dtype=np.float64)
    for c_ids, c_sc in list(must) + list(should):
        if c_ids.size == 0:
            continue
        mask = _member(ids, c_ids)
        if mask.any():
            pos = np.searchsorted(c_ids, ids[mask])
            scores[mask] += c_sc[pos]

    return _apply_must_not(node, sd, ids, scores)


def _apply_must_not(
    node: P.PBool, sd: ShardData, ids: np.ndarray, scores: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    for mn in node.must_not:
        n_ids, _ = evaluate(mn, sd)
        if n_ids.size:
            keep = ~_member(ids, n_ids)
            ids, scores = ids[keep], scores[keep]
    return ids, scores


def _eval_dismax(
    node: P.PDisMax, sd: ShardData
) -> Tuple[np.ndarray, np.ndarray]:
    """DisjunctionMax: union of children; per doc
    max(child scores) + tie * (sum - max)."""
    evs = [evaluate(c, sd) for c in node.children]
    arrs = [e[0] for e in evs if e[0].size]
    if not arrs:
        return _EMPTY
    ids = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
    mx = np.full(ids.size, -np.inf, dtype=np.float64)
    sm = np.zeros(ids.size, dtype=np.float64)
    for c_ids, c_sc in evs:
        if c_ids.size == 0:
            continue
        mask = _member(ids, c_ids)
        if mask.any():
            pos = np.searchsorted(c_ids, ids[mask])
            sm[mask] += c_sc[pos]
            np.maximum.at(mx, np.nonzero(mask)[0], c_sc[pos])
    return ids, mx + node.tie * (sm - mx)


def _eval_synonym(
    node: P.PSynonym, sd: ShardData
) -> Tuple[np.ndarray, np.ndarray]:
    """Lucene SynonymQuery: union of member postings, per-doc tf =
    sum of member tfs, scored once with the blended idf."""
    ps = [sd.postings.get(t) for t in node.terms]
    ps = [p for p in ps if p is not None and p.ids.size]
    if not ps:
        return _EMPTY
    if len(ps) == 1:
        ids, tfs, dls = ps[0].ids, ps[0].tfs, ps[0].dls
    else:
        ids = np.unique(np.concatenate([p.ids for p in ps]))
        tfs = np.zeros(ids.size, dtype=np.int64)
        dls = np.zeros(ids.size, dtype=np.int64)
        for p in ps:
            mask = _member(ids, p.ids)
            pos = np.searchsorted(p.ids, ids[mask])
            tfs[mask] += p.tfs[pos]
            dls[mask] = p.dls[pos]
    sc = term_score_np(
        node.sim, tfs, dls, node.idf,
        sd.avgdl if node.avgdl is None else node.avgdl,
        node.tw,
    )
    return ids, sc


def _eval_phrase(node: P.PPhrase, sd: ShardData) -> Tuple[np.ndarray, np.ndarray]:
    ps = []
    for t in node.terms:
        p = sd.postings.get(t)
        if p is None or p.ids.size == 0:
            return _EMPTY
        if not p.has_positions() and sd.pos_loader is not None:
            p = sd.pos_loader(t) or p
        if not p.has_positions():
            return _EMPTY
        ps.append(p)
    ids = ps[0].ids
    for p in ps[1:]:
        ids = np.intersect1d(ids, p.ids, assume_unique=True)
    if ids.size == 0:
        return _EMPTY
    # align positions per doc
    idx = [np.searchsorted(p.ids, ids) for p in ps]
    m = len(ps)
    span = m + node.slop  # max allowed window length is m-1+slop+1
    out_ids: List[int] = []
    out_tf: List[int] = []
    out_dl: List[int] = []
    for row, doc in enumerate(ids):
        pos_lists = [ps[k].pos(idx[k][row]) for k in range(m)]
        if node.slop == 0:
            starts = pos_lists[0]
            for k in range(1, m):
                starts = starts[
                    _member_unsorted(starts + k, pos_lists[k])
                ]
                if starts.size == 0:
                    break
            tf = int(starts.size)
        else:
            tf = 1 if _ordered_within(pos_lists, m - 1 + node.slop) else 0
        if tf > 0:
            out_ids.append(int(doc))
            out_tf.append(tf)
            out_dl.append(int(ps[0].dls[idx[0][row]]))
    if not out_ids:
        return _EMPTY
    oid = np.array(out_ids, dtype=np.int64)
    sc = term_score_np(
        node.sim,
        np.array(out_tf, dtype=np.int64),
        np.array(out_dl, dtype=np.int64),
        node.idf,
        sd.avgdl if node.avgdl is None else node.avgdl,
        node.tw,
    )
    return oid, sc


def _member_unsorted(vals: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    if sorted_arr.size == 0:
        return np.zeros(vals.size, dtype=bool)
    pos = np.searchsorted(sorted_arr, vals)
    pos[pos == sorted_arr.size] = sorted_arr.size - 1
    return sorted_arr[pos] == vals


def _ordered_within(pos_lists: List[np.ndarray], max_gap: int) -> bool:
    """True iff exist p_1 < p_2 < ... < p_m (p_k from pos_lists[k])
    with p_m - p_1 <= max_gap. Greedy over start positions."""
    for p1 in pos_lists[0]:
        bound = p1 + max_gap
        prev = p1
        ok = True
        for k in range(1, len(pos_lists)):
            nxt = pos_lists[k]
            j = np.searchsorted(nxt, prev + 1)
            if j == nxt.size or nxt[j] > bound:
                ok = False
                break
            prev = nxt[j]
        if ok:
            return True
    return False


def _eval_meta(node: P.PMetaFilter, sd: ShardData) -> Tuple[np.ndarray, np.ndarray]:
    uni = _universe(sd)
    col = sd.meta.get(node.field)
    if col is None:
        return _EMPTY
    if node.kind in ("num_eq", "num_range"):
        # numeric semantics: values may arrive as numbers (oracle) or
        # their string representation (doclens) — coerce; NaN never
        # matches
        import pandas as pd

        vals = pd.to_numeric(pd.Series(col), errors="coerce").to_numpy(
            dtype=np.float64
        )
        ok = ~np.isnan(vals)
        if node.kind == "num_eq":
            mask = ok & (vals == float(node.value[0]))
        else:
            lo, hi = node.value
            lo_inc, hi_inc = node.inclusive
            mask = ok.copy()
            if lo is not None:
                mask &= (
                    (vals >= float(lo)) if lo_inc else (vals > float(lo))
                )
            if hi is not None:
                mask &= (
                    (vals <= float(hi)) if hi_inc else (vals < float(hi))
                )
        ids = uni[mask]
        return ids, np.ones(ids.size, dtype=np.float64)
    low = np.char.lower(col.astype(str))
    if node.kind == "eq":
        mask = low == node.value[0]
    elif node.kind == "prefix":
        mask = np.char.startswith(low, node.value[0])
    elif node.kind == "regex":
        rx = re.compile(node.value[0])
        mask = np.array([bool(rx.fullmatch(v)) for v in low])
    elif node.kind == "range":
        lo, hi = node.value
        lo_inc, hi_inc = node.inclusive
        mask = np.ones(low.size, dtype=bool)
        if lo is not None:
            mask &= (low >= lo) if lo_inc else (low > lo)
        if hi is not None:
            mask &= (low <= hi) if hi_inc else (low < hi)
    else:
        raise ValueError(node.kind)
    ids = uni[mask]
    return ids, np.ones(ids.size, dtype=np.float64)


def top_k(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    """(score desc, doc_id asc) top-k. For k << n this is O(n)
    selection (np.partition on the score) + a lexsort of only the
    selected candidates — a full lexsort of a 500k-doc match set
    costs ~60 ms, the selection ~5 ms, same result. Boundary ties
    (score == k-th largest) break by smallest doc_id, selected with
    a second partition on the ids, so no input ordering is assumed."""
    n = ids.size
    if k <= 0:
        return ids[:0], scores[:0]
    if n == 0:
        return ids, scores
    if k >= n or n <= 4096:
        order = np.lexsort((ids, -scores))[:k]
        return ids[order], scores[order]
    kth = np.partition(scores, n - k)[n - k]  # k-th largest score
    gt = np.flatnonzero(scores > kth)
    need = k - gt.size  # >= 1: at most k-1 scores exceed the k-th
    eq = np.flatnonzero(scores == kth)
    if eq.size > need:
        eq = eq[np.argpartition(ids[eq], need - 1)[:need]]
    idx = np.concatenate((gt, eq))
    order = np.lexsort((ids[idx], -scores[idx]))[:k]
    idx = idx[order]
    return ids[idx], scores[idx]
