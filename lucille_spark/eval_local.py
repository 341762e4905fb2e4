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

All arrays are numpy (ids int64 sorted ascending, scores float64).
Every step is a whole-array pass that loops in Python only over
*query* terms / child nodes (tiny); the exceptions are sloppy phrases
(slop > 0, one ``_ordered_within`` call per candidate doc) and regex
metadata filters (one ``fullmatch`` per doc). Scoring per
lucille_spark.scoring.
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
    # doc i's positions are pos_flat[pos_bounds[i]:pos_bounds[i+1]],
    # ascending. Every decoded posting (exec_wand.decode_postings)
    # has this shape; postings built from raw docs (the oracle,
    # percolate) carry the list shape, which `csr()` converts once.
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

    def csr(self) -> Tuple[np.ndarray, np.ndarray]:
        """-> (pos_flat, pos_bounds); a list-shaped posting is
        converted on first use and keeps the CSR arrays."""
        if self.pos_flat is None:
            b = np.zeros(len(self.positions) + 1, dtype=np.int64)
            np.cumsum([x.size for x in self.positions], out=b[1:])
            self.pos_flat = (
                np.concatenate(self.positions).astype(np.int64, copy=False)
                if self.positions
                else np.empty(0, dtype=np.int64)
            )
            self.pos_bounds = b
        return self.pos_flat, self.pos_bounds


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
        dense = _dense_conjunction(node, must, should)
        if dense is not None:
            ids, scores = dense
            if ids.size == 0:
                return _EMPTY
            return _apply_must_not(node, sd, ids, scores)
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


def _dense_conjunction(node: P.PBool, must, should):
    """Scatter-add over the span the must children share: per doc the
    child scores add in child order (must, then should), exactly as
    the sort-based gather in `_eval_bool` does, so the floats are
    bitwise identical. A lone must child is returned as is. ->
    (ids, scores), or None when the span is too sparse for a dense
    accumulator."""
    if len(must) == 1 and not should:
        return must[0]
    if any(c_ids.size == 0 for c_ids, _ in must):
        return _EMPTY
    lo = max(int(c_ids[0]) for c_ids, _ in must)
    hi = min(int(c_ids[-1]) for c_ids, _ in must)
    if lo > hi:
        return _EMPTY
    if not _span_ok(lo, hi, sum(c_ids.size for c_ids, _ in must)):
        return None
    # one hit counter: a must hit weighs more than all should hits
    # together, so cnt >= need means every must child matched and at
    # least min_should should children did
    w = len(should) + 1
    need = len(must) * w + (node.min_should if should else 0)
    acc = np.zeros(hi - lo + 1, dtype=np.float64)
    cnt = np.zeros(hi - lo + 1, dtype=np.int32)
    for i, (c_ids, c_sc) in enumerate(must + should):
        a, b = np.searchsorted(c_ids, (lo, hi + 1))
        off = c_ids[a:b] - lo
        acc[off] += c_sc[a:b]
        cnt[off] += w if i < len(must) else 1
    m = np.flatnonzero(cnt >= need)
    return m + lo, acc[m]


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
    if node.slop == 0:
        tf = _exact_phrase_tf(node.terms, ps, idx)
    else:
        m = len(ps)
        tf = np.array(
            [
                _ordered_within(
                    [p.pos(ix[row]) for p, ix in zip(ps, idx)],
                    m - 1 + node.slop,
                )
                for row in range(ids.size)
            ],
            dtype=np.int64,
        )
    hit = np.flatnonzero(tf)
    if hit.size == 0:
        return _EMPTY
    sc = term_score_np(
        node.sim,
        tf[hit],
        ps[0].dls[idx[0][hit]].astype(np.int64, copy=False),
        node.idf,
        sd.avgdl if node.avgdl is None else node.avgdl,
        node.tw,
    )
    return ids[hit], sc


def _exact_phrase_tf(
    terms, ps: List[Posting], idx: List[np.ndarray]
) -> np.ndarray:
    """Exact (slop 0) phrase frequency of each candidate doc row, in
    one pass over CSR positions. Each position gets the key
    ``row * span + pos``, ascending per term (positions ascend within
    a doc). The term with the fewest positions anchors: an anchor at
    key ``k`` (term a) starts a match iff every term j has the key
    ``k - a + j``, tested with np.searchsorted. tf per row is the
    count of surviving anchors, i.e. of phrase start positions."""
    m = len(ps)
    pos: Dict[str, np.ndarray] = {}
    keys: Dict[str, np.ndarray] = {}
    for t, p, ix in zip(terms, ps, idx):
        if t in pos:
            continue
        flat, bounds = p.csr()
        starts = bounds[ix]
        counts = bounds[ix + 1] - starts
        ends = np.cumsum(counts)
        # flat index of each selected position: its rank in the
        # selection, shifted by its row's offset into `flat`
        at = np.arange(ends[-1], dtype=np.int64)
        at += np.repeat(starts - (ends - counts), counts)
        pos[t] = flat[at].astype(np.int64, copy=False)
        keys[t] = np.repeat(np.arange(ix.size, dtype=np.int64), counts)
    if any(v.size == 0 for v in pos.values()):
        return np.zeros(idx[0].size, dtype=np.int64)
    # a probe moves a position by at most m-1 either way, so with
    # span > max pos + m-1 an upward probe stays in its row, and a
    # downward one that crosses into the previous row lands above
    # every real position there
    span = max(int(v.max()) for v in pos.values()) + m
    for t, k in keys.items():
        k *= span
        k += pos[t]
    a = min(range(m), key=lambda j: keys[terms[j]].size)
    anchor = keys[terms[a]]
    for j in sorted(range(m), key=lambda j: keys[terms[j]].size):
        if j == a:
            continue
        target = keys[terms[j]]
        probe = anchor + (j - a)
        loc = np.minimum(np.searchsorted(target, probe), target.size - 1)
        anchor = anchor[target[loc] == probe]
        if anchor.size == 0:
            break
    return np.bincount(anchor // span, minlength=idx[0].size)


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
    """(score desc, doc_id asc) top-k of an `evaluate` result, whose
    ids are strictly ascending — every caller passes one — so a stable
    sort by descending score is already that order. For k < n this is
    O(n) plus a sort of < k rows: np.partition finds the k-th largest
    score; the rows above it are kept and sorted; the boundary ties
    (score == k-th) follow as the first such rows in input order,
    i.e. the smallest ids. Returns fresh arrays (k > 0)."""
    n = ids.size
    if k <= 0:
        return ids[:0], scores[:0]
    # ndarray methods, not the np.* wrappers: this runs once per
    # request, where the wrappers' dispatch is a visible share
    if k >= n:
        top = (-scores).argsort(kind="stable")
    else:
        kth = np.partition(scores, n - k)[n - k]  # k-th largest score
        gt = (scores > kth).nonzero()[0]
        eq = (scores == kth).nonzero()[0][: k - gt.size]
        top = np.concatenate(
            (gt[(-scores[gt]).argsort(kind="stable")], eq)
        )
    return ids[top], scores[top]
