"""Segment executor: per-shard block-decode + block-max pruned
evaluation inside ``applyInPandas``, then a k-row global merge.

Architecture (doc-partitioned, SURVEY.md §3.4); `search` is a
`search_many` batch of one, both run WandExecutor._scan:

  segments parquet ──filter(term IN query terms / startswith / range
      predicates of every query, see _term_filter)──  [parquet
      predicate pushdown + row-group pruning: segments are sorted by
      term string within each shard partition]
    ──groupBy(shard).applyInPandas(kernel)──  each shard turns its
      rows into one BlockTable (numpy columns sorted by term, with
      per-term row runs), decodes the blocks it needs in one
      concatenated varbyte pass, builds a ShardData and runs the SAME
      evaluator as the oracle (eval_local.evaluate); emits each
      query's local top-k only
    ──orderBy(score desc, doc_id).limit(k)──  global merge of
      num_shards * k rows -> TakeOrderedAndProject (no full shuffle);
      search_many cuts each query with a Window row_number instead.

The kernel touches pandas only at its entry (frame -> BlockTable) and
returns numpy columns: term runs, block overlap and decoding are numpy
array operations, so a request's cost is the decode, not per-call
DataFrame plumbing. LocalSearcher passes a pre-sorted BlockTable
directly and skips the entry conversion too.

Block-max pruning (BASELINE.json:6 "block-max WAND pruning"): for
flat disjunctions/conjunctions of scored terms the kernel skips
decoding blocks that provably cannot reach the running top-k
threshold, using the per-block BM25 upper bounds precomputed at
build time — a vectorized MaxScore/BMW hybrid:

  * OR: terms sorted by whole-term upper bound desc are decoded until
    the remaining terms' ub sum < the current k-th score; remaining
    (non-essential) terms then decode ONLY blocks whose doc range
    intersects current candidates (a doc matching exclusively
    non-essential terms is bounded by their ub sum < threshold).
  * AND: the rarest term is decoded fully; every other term decodes
    only blocks overlapping the running candidate id range-set.

Every other tree, and every query of a search_many batch, evaluates
on the (already term-filtered) blocks decoded once for all of them —
still numpy-vectorized and shard-local. Pruned and exhaustive paths
are asserted equal in tests (tests/test_engine_wand.py,
tests/test_property_pruning.py).
"""

from __future__ import annotations

import logging
import threading
from itertools import chain
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucille_spark import plans as P
from lucille_spark.codec import bitpack_decode, varbyte_decode
from lucille_spark.pushdown import expand_condition, file_prune_bounds
from lucille_spark.sqlgen import ident
from lucille_spark.eval_local import Posting, ShardData, evaluate, top_k
from lucille_spark.index.reader import SparkIndex
from lucille_spark.lru import LRUCache

# one row per hit of one query of the batch a shard kernel evaluates
KERNEL_SCHEMA = "query_id string, doc_id long, score double"

# posting-block codecs by the name recorded in stats.json at build
DECODERS = {"varbyte": varbyte_decode, "bitpack": bitpack_decode}

# Tombstone sets up to this size ship into the shard kernels as a
# sorted array in the task closure (~8 B/id serialized per task).
# Past it the set stays DISTRIBUTED: doclens gains a `_del` flag via
# a JVM join against deleted_df and each shard derives its LOCAL
# tombstone array from the cogrouped slice — exact same results, no
# multi-MB closure per task (ADVICE r2 #2).
TOMBSTONE_SHIP_MAX = 100_000


def _tombstones(ix):
    """-> (deleted, mark_dl): `deleted` is None, a sorted np array
    (small sets, closure-shipped), or the sentinel 'dl' (large sets,
    derive per shard from the doclens `_del` column)."""
    n = getattr(ix, "deleted_count", 0)
    if not n:
        return None, False
    if n <= TOMBSTONE_SHIP_MAX:
        return ix.deleted_ids, False
    return "dl", True


def _local_deleted(deleted, dl_pdf) -> Optional[np.ndarray]:
    """Kernel-side: resolve the `deleted` argument to this shard's
    sorted tombstone array (or None)."""
    if deleted is None or isinstance(deleted, np.ndarray):
        return deleted
    # sentinel 'dl': derive from the cogrouped doclens slice
    if dl_pdf is None or not len(dl_pdf) or "_del" not in dl_pdf:
        return None
    mask = dl_pdf["_del"].fillna(False).to_numpy(dtype=bool)
    arr = np.sort(dl_pdf.loc[mask, "doc_id"].to_numpy(dtype=np.int64))
    return arr if arr.size else None


def _shard_universe(avgdl, dl_pdf, meta_cols, dead):
    """-> (ShardData holding the live doc universe and meta columns
    of the doclens slice `dl_pdf`, dl_pdf in doc_id order). The
    slice is sorted only when its ids are not ascending already."""
    sd = ShardData(avgdl=avgdl)
    if dl_pdf is None or not len(dl_pdf):
        return sd, dl_pdf
    ids = dl_pdf["doc_id"].to_numpy(dtype=np.int64)
    if (ids[1:] < ids[:-1]).any():
        dl_pdf = dl_pdf.sort_values("doc_id")
        ids = dl_pdf["doc_id"].to_numpy(dtype=np.int64)
    sd.all_ids = ids
    sd.all_dls = dl_pdf["doc_len"].to_numpy(dtype=np.int64)
    for c in meta_cols:
        if c in dl_pdf.columns:
            sd.meta[c] = dl_pdf[c].to_numpy(dtype=object)
    if dead is not None and ids.size:
        live = ~_in_sorted(ids, dead)
        sd.all_ids, sd.all_dls = ids[live], sd.all_dls[live]
        for c in list(sd.meta):
            sd.meta[c] = sd.meta[c][live]
    return sd, dl_pdf


class WandExecutor:
    #: bounded LRU of built plans, keyed like exec_df's (plan build
    #: is hundreds of py4j round trips; the DataFrame is immutable)
    PLAN_CACHE_MAX = 64

    def __init__(self, index: SparkIndex, prune: bool = True):
        self.ix = index
        self.prune = prune
        self._plan_cache = LRUCache(self.PLAN_CACHE_MAX)

    def warmup(self) -> None:
        """Pay process one-time costs at startup (counterpart of
        exec_df.DataFrameExecutor.warmup): the first applyInPandas
        job spawns the reusable Python worker pool and compiles the
        cogroup/groupBy-apply machinery — ~2 s measured on the first
        user query if not pre-paid here. Never raises; a failure is
        logged."""
        try:
            ts = self.ix.sample_terms(2)
            if not ts:
                return
            t1, t2 = ts[0], ts[-1]
            # pass plan NODES: node queries skip the string-keyed
            # plan cache, so warmup leaves it untouched. search and
            # search_many run the same kernel through the same scan,
            # so two shapes compile both of its forms for both: the
            # plain groupBy-apply (term/OR union predicate) and the
            # cogroup path (NOT needs the doc universe -> segments x
            # doclens).
            self.search(self.ix.plan(f"{t1} OR {t2}"), k=1).collect()
            self.search(
                self.ix.plan(f"{t1} AND NOT {t2}"), k=1
            ).collect()
        except Exception:
            logging.getLogger(__name__).warning(
                "WandExecutor warmup failed", exc_info=True
            )

    def search(
        self, query, k: int = 10, with_meta: bool = False,
        synonyms=None, doc_boosts=None,
    ) -> DataFrame:
        """`doc_boosts`: (lo, hi, factor) doc-id ranges multiplying
        scores before the global top-k cut (ES `indices_boost`).
        Applied to the per-shard kernel output, which is EXACT as
        long as each range covers whole shards (alias parts do:
        every shard belongs to one part): a constant positive factor
        never reorders a shard's local top-k, so the boosted global
        winners are all still present at the merge."""
        if k is None:
            # the WAND kernel is inherently top-k; UNBOUNDED match
            # sets (delete_by_query, constant_score/boosting legs,
            # facets over all matches) run the DataFrame plan of the
            # SAME physical tree — rank identity between the two
            # executors is the hash-gated contract, so this is a
            # strategy switch, not a semantics change.
            from lucille_spark.exec_df import DataFrameExecutor

            return DataFrameExecutor(self.ix).search(
                query, k=None, with_meta=with_meta, synonyms=synonyms,
                doc_boosts=doc_boosts,
            )
        cache_key = None
        if (
            isinstance(query, str)
            and synonyms is None
            and not doc_boosts
            and getattr(self, "profile_acc", None) is None
        ):
            cache_key = (
                query, k, with_meta,
                getattr(self.ix, "plan_version", 0),
            )
            hit = self._plan_cache.get(cache_key)
            if hit is not None:
                return hit
        ix = self.ix
        local, meta_folded = self._scan(
            {"q0": ix.plan(query, synonyms=synonyms)}, {"q0": k},
            self.prune, with_meta,
        )
        local = local.drop("query_id")
        if doc_boosts:
            from lucille_spark.exec_df import _boost_case

            local = local.withColumn(
                "score", F.col("score") * _boost_case(doc_boosts)
            )
        out = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if with_meta and not meta_folded:
            meta = ix.doclens.drop("shard", "doc_len")
            # broadcast the K-ROW result side, stream doclens: a left
            # join would force doclens as the build side (full
            # shuffle/hash of the corpus at scale); every result id
            # exists in doclens, so inner == left here
            out = meta.join(F.broadcast(out), "doc_id").select(
                "doc_id", "score",
                *[c for c in meta.columns if c != "doc_id"],
            ).orderBy(F.desc("score"), F.asc("doc_id"))
        if cache_key is not None:
            return self._plan_cache.put(cache_key, out)
        return out

    def search_many(
        self,
        queries,
        k: int = 10,
        ks: "Optional[Dict[str, int]]" = None,
        similarities: "Optional[Dict[str, str]]" = None,
    ) -> DataFrame:
        """Evaluate a BATCH of queries in one job: one term-filtered
        segment scan (union of every query's term predicate), one
        applyInPandas pass per shard that decodes each touched term
        once and runs the shared evaluator per query, then a
        per-query top-k merge (Window row_number over shards*k*Q
        rows). This is the serving shape for high-QPS workloads at
        scale — per-job fixed overhead and the scan are amortized
        over the whole batch instead of paid per query.

        `queries`: dict[query_id -> query string] or list (ids
        q0..qN-1). `ks` / `similarities` override k / the ranking
        formula per query id (a mixed batch stays ONE job: the plan
        trees carry their own per-term weights, the final window
        filter applies a per-query row limit). -> (query_id, doc_id,
        score), k_q rows per query in (score desc, doc_id asc) order
        within each query.
        """
        from pyspark.sql import Window

        ix = self.ix
        if not isinstance(queries, dict):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        sims = similarities or {}
        nodes = {
            qid: ix.plan(q, similarity=sims.get(qid))
            for qid, q in queries.items()
        }
        kmap = {qid: int((ks or {}).get(qid, k)) for qid in queries}
        # no block pruning in a batch: the shard decodes every term
        # it holds ONCE for all of the batch's queries, while the
        # pruned path decodes per query — a term shared by several
        # flat queries would be decoded once for each of them
        local, _ = self._scan(nodes, kmap, prune=False)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if len(set(kmap.values())) <= 1:
            klim = F.lit(next(iter(kmap.values()), k))
        else:
            m = F.create_map(
                *[F.lit(x) for qid in kmap for x in (qid, kmap[qid])]
            )
            klim = m[F.col("query_id")]
        return (
            local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= klim)
            .drop("_rn")
        )

    def _scan(
        self, nodes: Dict[str, P.PNode], ks: Dict[str, int], prune: bool,
        with_meta: bool = False,
    ) -> Tuple[DataFrame, bool]:
        """The WAND job for the plan trees `nodes` (query id -> tree):
        one file-pruned, term-filtered segment scan for all of them,
        then ONE applyInPandas per shard running _make_kernel.
        -> (per-shard top-k rows (query_id, doc_id, score, ...), True
        when the meta columns were folded into those rows)."""
        ix = self.ix
        seg_src = getattr(ix, "segments_for", None)
        if seg_src is not None:
            segs = seg_src(*file_prune_bounds(*nodes.values()))
        else:
            segs = ix.segments
        # a tree that touches no term reads no segment row: the
        # doclens cogroup below still brings its universe
        cond = _term_filter(nodes.values())
        segs = segs.filter(F.lit(False) if cond is None else cond)
        meta_cols = list(ix.stats.get("meta_cols", []))
        deleted, mark_dl = _tombstones(ix)
        need_uni = mark_dl or any(  # 'dl' needs the doclens slice
            P.needs_universe(n) for n in nodes.values()
        )
        # meta fold: when the kernel already cogroups doclens, it
        # emits the meta columns for its local top-k directly — one
        # fewer scan + exchange than the post-hoc join (with_meta on
        # the plain path stays a broadcast join of the k-row result
        # against doclens).
        meta_out = []
        schema = KERNEL_SCHEMA
        if with_meta and need_uni:
            dl_schema = {f.name: f.dataType.simpleString()
                         for f in ix.doclens.schema.fields}
            meta_out = [
                c for c in ix.doclens.columns
                if c not in ("shard", "doc_id", "doc_len")
            ]
            schema = KERNEL_SCHEMA + "".join(
                f", {ident(c)} {dl_schema[c]}" for c in meta_out
            )
        kernel = _make_kernel(
            nodes, float(ix.stats["avg_dl"]), ks, prune, meta_cols,
            DECODERS[ix.stats.get("codec", "varbyte")], deleted, meta_out,
            stats_acc=getattr(self, "profile_acc", None),
        )
        if need_uni:
            # cogroup segments with the shard's doclens slice so the
            # kernel has the doc universe + metadata columns
            dl_cols = {"shard", "doc_id", "doc_len", *meta_cols, *meta_out}
            dl = ix.doclens.select(
                *[c for c in ix.doclens.columns if c in dl_cols]
            )
            if mark_dl:
                # left-join the tombstone flag (JVM join; AQE picks
                # broadcast vs shuffle by actual size)
                dl = dl.join(
                    ix.deleted_df.dropDuplicates(["doc_id"])
                    .withColumn("_del", F.lit(True)),
                    "doc_id", "left",
                )
            local = segs.groupBy("shard").cogroup(
                dl.groupBy("shard")
            ).applyInPandas(
                lambda seg, dl: pd.DataFrame(kernel(seg, dl), copy=False),
                schema=schema,
            )
        else:
            local = segs.groupBy("shard").applyInPandas(
                lambda seg: pd.DataFrame(kernel(seg), copy=False),
                schema=schema,
            )
        return local, bool(meta_out)


def _term_filter(nodes):
    """Segment-scan predicate on the term column for every tree in
    `nodes`, or None when they touch no term: ONE isin over all exact
    terms (terms, phrases, synonyms) plus one OR per expansion. An
    expansion uses the shared pushdown predicate (exact IN below a
    threshold, else a StartsWith/range/length-band bound + JVM
    residual — never a huge enumerated IN list). One union instead of
    per-query Column chains keeps the driver-serial py4j Column
    construction O(expansions), not O(batch x clauses)."""
    exact: set = set()
    preds: List = []
    for n in chain.from_iterable(map(P.leaves, nodes)):
        if isinstance(n, P.PTerm):
            exact.add(n.term)
        elif isinstance(n, (P.PPhrase, P.PSynonym)):
            exact.update(n.terms)
        elif isinstance(n, P.PExpand):
            preds.append(expand_condition(n))
    cond = F.col("term").isin(sorted(exact)) if exact else None
    for p in preds:
        cond = p if cond is None else (cond | p)
    return cond


# ------------------------------------------------------------ kernel


class BlockTable:
    """One kernel call's posting blocks as numpy columns, rows sorted
    by (term, doc_id_base, block_id). Term `terms[i]` owns rows
    `bounds[i]:bounds[i+1]` of every column, and `terms` is sorted, so
    a query term or a term interval resolves with np.searchsorted
    instead of a pandas mask, sort or groupby."""

    INTS = ("doc_id_base", "doc_id_max", "n_docs", "max_tf")
    BUFS = ("ids_delta", "tfs", "dls", "positions")

    def __init__(self, terms: np.ndarray, bounds: np.ndarray, cols: dict):
        self.terms, self.bounds, self.cols = terms, bounds, cols

    @classmethod
    def from_frame(cls, pdf: pd.DataFrame) -> "BlockTable":
        codes, terms = pd.factorize(
            pdf["term"].to_numpy(dtype=object), sort=True
        )
        order = np.lexsort((
            pdf["block_id"].to_numpy(), pdf["doc_id_base"].to_numpy(), codes,
        ))
        cols = {c: pdf[c].to_numpy(dtype=np.int64)[order] for c in cls.INTS}
        for c in cls.BUFS:
            cols[c] = pdf[c].to_numpy(dtype=object)[order]
        cols["has_pos"] = pdf["positions"].notna().to_numpy()[order]
        bounds = np.searchsorted(codes[order], np.arange(terms.size + 1))
        return cls(terms.astype(object), bounds, cols)

    def __len__(self) -> int:
        return int(self.bounds[-1])

    def run(self, term: str) -> Optional[np.ndarray]:
        """Row indexes of `term`'s blocks, or None when it is absent."""
        i = int(np.searchsorted(self.terms, term))
        if i < self.terms.size and self.terms[i] == term:
            return np.arange(self.bounds[i], self.bounds[i + 1])
        return None

    def select(self, exact, intervals) -> "BlockTable":
        """Sub-table of the terms in `exact` or inside any inclusive
        (lo, hi) string interval (None = open end) — the bounds
        pushdown.file_prune_bounds gives the parquet scan."""
        t, n = self.terms, self.terms.size
        if any(lo is None and hi is None for lo, hi in intervals):
            return self
        keep = np.zeros(n + 1, dtype=bool)
        if exact:
            q = np.array(sorted(exact), dtype=object)
            i = np.searchsorted(t, q)
            hit = i < n
            hit[hit] = t[i[hit]] == q[hit]
            keep[i[hit]] = True
        for lo, hi in intervals:
            a = 0 if lo is None else np.searchsorted(t, lo, "left")
            b = n if hi is None else np.searchsorted(t, hi, "right")
            keep[a:b] = True
        tix = np.flatnonzero(keep[:n])
        lens = np.diff(self.bounds)[tix]
        bounds = np.zeros(tix.size + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
        rows = np.repeat(self.bounds[tix] - bounds[:-1], lens) + np.arange(
            bounds[-1]
        )
        return BlockTable(
            t[tix], bounds, {c: v[rows] for c, v in self.cols.items()}
        )


def _in_sorted(vals: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership mask of vals in a SORTED unique array (searchsorted,
    no hashing)."""
    if sorted_arr.size == 0:
        return np.zeros(vals.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, vals)
    idx[idx == sorted_arr.size] = 0
    return sorted_arr[idx] == vals


def _csr_take(
    flat: np.ndarray, bounds: np.ndarray, take: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """Row-gather on a CSR (flat, bounds) pair: keep rows `take` (an
    int index array, in output order) -> (new_flat, new_bounds with
    new_bounds[0] == 0). Fully vectorized."""
    lens = (bounds[1:] - bounds[:-1])[take]
    starts = bounds[:-1][take]
    nb = np.zeros(take.size + 1, dtype=np.int64)
    np.cumsum(lens, out=nb[1:])
    total = int(nb[-1])
    if total == 0:
        return np.empty(0, dtype=flat.dtype), nb
    idx = np.repeat(starts - nb[:-1], lens) + np.arange(
        total, dtype=np.int64
    )
    return flat[idx], nb


def _decode_values(decode, cols) -> np.ndarray:
    """Decode a list of buffer columns into ONE int64 value stream.
    Varbyte is self-delimiting, so the concatenation of every buffer
    decodes exactly like separate decodes: one call for all blocks
    and columns replaces a per-block loop of three or five calls.
    Bitpack blocks carry headers and are not concatenation-safe, so
    they decode one at a time."""
    if decode is varbyte_decode:
        buf = b"".join(chain.from_iterable(cols))
        return varbyte_decode(buf).astype(np.int64)
    parts = [decode(b) for col in cols for b in col]
    return np.concatenate(parts).astype(np.int64)


def _segmented_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Cumulative sum of `vals` restarting at every segment of
    `counts` values (per-block doc-id gaps, per-doc position
    deltas), in one pass."""
    cs = np.cumsum(vals)
    cs0 = np.concatenate(([0], cs))
    return cs - np.repeat(cs0[np.cumsum(counts) - counts], counts)


def decode_postings(
    bt: BlockTable,
    pos_terms,  # bool (all/none) | set of terms wanting positions
    decode=varbyte_decode,
    deleted: Optional[np.ndarray] = None,
    rows: Optional[np.ndarray] = None,
) -> "Dict[str, Posting]":
    """Decode blocks `rows` of `bt` (ascending row indexes; default
    all) into one Posting per term, in one vectorized pass.

    Per-block value counts are the block's n_docs and per-doc
    position counts are the tfs; per-block doc-id bases and per-doc
    position deltas are restored with segmented cumsums. A term
    carries positions when they are wanted and every
    one of its selected blocks stores them, decided per term: a block
    without positions never strips them from another term. Positions
    land in CSR shape (Posting.pos_flat/pos_bounds): one array object
    per decode instead of one tiny array per doc."""
    if rows is None:
        rows = np.arange(len(bt))
    if rows.size == 0:
        return {}
    c = bt.cols
    tix = np.searchsorted(bt.bounds, rows, side="right") - 1
    tb = np.concatenate((
        [0], np.flatnonzero(tix[1:] != tix[:-1]) + 1, [rows.size]
    ))
    terms = bt.terms[tix[tb[:-1]]]
    if isinstance(pos_terms, bool):
        want = np.full(terms.size, pos_terms)
    else:
        want = np.array([t in pos_terms for t in terms], dtype=bool)
    tpos = want & np.logical_and.reduceat(c["has_pos"][rows], tb[:-1])
    rpos = np.repeat(tpos, np.diff(tb))
    n = c["n_docs"][rows]
    N, any_pos = int(n.sum()), bool(tpos.any())
    cols = [c["ids_delta"][rows], c["tfs"][rows], c["dls"][rows]]
    if any_pos:
        cols.append(c["positions"][rows[rpos]])
    vals = _decode_values(decode, cols)
    ids = _segmented_cumsum(vals[:N], n) + np.repeat(
        c["doc_id_base"][rows], n
    )
    # copies: postings (resident ones under predecode) must not keep
    # the whole decoded buffer alive through views
    tfs, dls = vals[N : 2 * N].copy(), vals[2 * N : 3 * N].copy()
    pos_flat = pb = None
    if any_pos:
        pc = np.where(np.repeat(rpos, n), tfs, 0)
        pb = np.zeros(N + 1, dtype=np.int64)
        np.cumsum(pc, out=pb[1:])
        pos_flat = _segmented_cumsum(vals[3 * N :], pc)
    if vals.size != 3 * N + (0 if pb is None else int(pb[-1])):
        raise ValueError("posting blocks disagree with their n_docs")
    vb = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(n, out=vb[1:])
    vb = vb[tb]  # per-term value ranges
    if deleted is not None:
        # tombstones drop out at decode time, BEFORE any scoring or
        # pruning threshold — block upper bounds stored at build may
        # still reflect a deleted doc's tf, which only makes them
        # looser (still valid upper bounds), so pruning stays sound
        live = ~_in_sorted(ids, deleted)
        if not live.all():
            keep = np.flatnonzero(live)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            if pb is not None:
                pos_flat, pb = _csr_take(pos_flat, pb, keep)
            vb = np.searchsorted(keep, vb)
    out: Dict[str, Posting] = {}
    for i, t in enumerate(terms):
        a, b = vb[i], vb[i + 1]
        p = Posting(ids=ids[a:b], tfs=tfs[a:b], dls=dls[a:b])
        t_pb = pb[a : b + 1] if tpos[i] else None
        if p.ids.size > 1 and (p.ids[1:] <= p.ids[:-1]).any():
            # runs from different build partitions may interleave doc
            # ranges; evaluation requires ascending unique ids
            o = np.argsort(p.ids, kind="mergesort")
            p.ids, p.tfs, p.dls = p.ids[o], p.tfs[o], p.dls[o]
            if t_pb is not None:
                p.pos_flat, p.pos_bounds = _csr_take(pos_flat, t_pb, o)
        elif t_pb is not None:
            p.pos_flat, p.pos_bounds = pos_flat, t_pb
        out[str(t)] = p
    return out


def _weighted_term(c: P.PNode, factor: float = 1.0):
    """Unwrap PBoost chains around a PTerm into an equivalent PTerm
    with idf scaled by the boost product — BM25 is linear in idf, so
    bm25(idf)*f == bm25(idf*f) and the block upper bound scales the
    same way. -> PTerm or None."""
    while isinstance(c, P.PBoost):
        factor *= c.factor
        c = c.child
    if factor <= 0.0:
        return None  # zero/negative boost breaks upper-bound ordering
    if isinstance(c, P.PTerm):
        if factor == 1.0:
            return c
        return P.PTerm(c.term, c.idf * factor, c.avgdl, c.tw, c.sim)
    return None


def _flat_terms(node: P.PNode):
    """If node is (possibly boosted) PBool of only (possibly boosted)
    PTerm children (no must_not, no min_should beyond default) return
    ('or'|'and', [PTerm...]) with boosts folded into each idf.

    A repeated term (``import AND import``) must contribute its score
    once per clause; the pruned kernel keys postings by term string and
    would collapse the multiplicity (and, for AND, wrongly conclude a
    term is missing from the shard). Bail to the exhaustive evaluator,
    which walks the clause list as-is, whenever duplicates exist."""
    outer = 1.0
    while isinstance(node, P.PBoost):
        outer *= node.factor
        node = node.child
    res = None
    if isinstance(node, P.PBool) and not node.must_not:
        if node.must and not node.should:
            kids = [_weighted_term(c, outer) for c in node.must]
            if all(k is not None for k in kids):
                res = "and", kids
        elif node.should and not node.must and node.min_should <= 1:
            kids = [_weighted_term(c, outer) for c in node.should]
            if all(k is not None for k in kids):
                res = "or", kids
    else:
        k = _weighted_term(node, outer)
        if k is not None:
            res = "or", [k]
    if res is not None and len({t.term for t in res[1]}) != len(res[1]):
        return None
    return res


def _make_kernel(
    nodes: Dict[str, P.PNode],
    avgdl: float,
    ks: Dict[str, int],
    prune: bool,
    meta_cols: List[str],
    decode=varbyte_decode,
    deleted=None,  # None | sorted np.ndarray | "dl" sentinel
    meta_out: "Optional[List[str]]" = None,
    stats_acc=None,  # (total_blocks, decoded_blocks) accumulators
):
    """-> the shard function for the plan trees `nodes` (query id ->
    tree; a single query is a batch of one): `shard(seg, dl_pdf=None)`
    evaluates every tree on one shard and returns the columns of each
    query's local top-k `ks[query id]` — query_id, doc_id, score and
    the `meta_out` columns of `dl_pdf`.

    `seg` is the shard's segment rows, as the applyInPandas frame or
    an already sorted BlockTable (LocalSearcher); `dl_pdf` is its
    doclens slice, passed when a tree needs the doc universe or the
    tombstones are the 'dl' sentinel. A flat term boolean under
    `prune` runs block-max pruned on the BlockTable; every other tree
    evaluates on postings decoded ONCE for all of them, with
    positions only for the terms of their phrases."""
    flats = {
        qid: _flat_terms(n) if prune else None for qid, n in nodes.items()
    }
    pos_terms = {  # the only terms whose positions evaluation reads
        t for n in chain.from_iterable(map(P.leaves, nodes.values()))
        if isinstance(n, P.PPhrase) for t in n.terms
    }
    meta_out = meta_out or []

    def shard(seg, dl_pdf=None) -> dict:
        qids, ids, scores = [], [np.empty(0, np.int64)], [np.empty(0)]
        if len(seg) or dl_pdf is not None:
            bt = (
                seg if isinstance(seg, BlockTable)
                else BlockTable.from_frame(seg)
            )
            dead = _local_deleted(deleted, dl_pdf)
            sd, dl_pdf = _shard_universe(avgdl, dl_pdf, meta_cols, dead)
            pruned = (
                {q for q, f in flats.items() if f} if bt.terms.size > 1 else ()
            )
            if len(pruned) < len(nodes):
                # one vectorized decode for every term's blocks (a term
                # may arrive as several disjoint doc-range runs from
                # different build partitions; the decoder restores
                # ascending ids per term)
                sd.postings.update(
                    decode_postings(bt, pos_terms, decode, dead)
                )
                if stats_acc is not None:
                    stats_acc[0].add(len(bt))
                    stats_acc[1].add(len(bt))  # decodes all
            for qid, node in nodes.items():
                if qid in pruned:
                    i, s = _eval_flat_pruned(
                        flats[qid], bt, sd, ks[qid], decode, dead, stats_acc
                    )
                else:
                    i, s = evaluate(node, sd)
                i, s = top_k(i, s, ks[qid])
                qids += [qid] * i.size
                ids.append(i)
                scores.append(s)
        ids = np.concatenate(ids)
        out = {
            "query_id": np.array(qids, dtype=object),
            "doc_id": ids,
            "score": np.concatenate(scores),
        }
        if meta_out:  # only set when the doclens slice is cogrouped
            # dl_pdf is doc_id-sorted; positional lookup of the local
            # top-k ids (every id came from this slice)
            pos = np.searchsorted(dl_pdf["doc_id"].to_numpy(), ids)
            out.update({c: dl_pdf[c].to_numpy()[pos] for c in meta_out})
        return out

    return shard


def _eval_flat_pruned(
    flat,
    bt: BlockTable,
    sd: ShardData,
    k: int,
    decode=varbyte_decode,
    deleted: Optional[np.ndarray] = None,
    stats_acc=None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Block-max pruned evaluation of flat AND/OR over PTerms.
    Counts this call's total and decoded blocks and adds them once
    (_count_blocks) to _PRUNE_STATS, for testability, and to the
    profiling accumulators `stats_acc` when given. Block
    upper bounds are completed here from the stored max_tf and the
    plan-time weight (scoring.term_upper_bound, per the plan's
    similarity)."""
    kind, pterms = flat
    terms = {t.term: t for t in pterms}

    def _adl(t: str) -> float:
        # per-field norms: a field term carries its field's avgdl
        return terms[t].avgdl or sd.avgdl
    # per-term block row runs present in this shard, in sorted term
    # order: ties in the decode orders below break alphabetically
    avail = {}
    for term in sorted(terms):
        rows = bt.run(term)
        if rows is not None:
            avail[term] = rows
    if not avail or (kind == "and" and len(avail) < len(pterms)):
        return np.empty(0, np.int64), np.empty(0, np.float64)

    from lucille_spark.scoring import term_score_np

    def _score(t: str, tfs, dls):
        pt = terms[t]
        return term_score_np(pt.sim, tfs, dls, pt.idf, _adl(t), pt.tw)

    total, decoded = sum(r.size for r in avail.values()), 0

    def _decode(t: str, rows: np.ndarray) -> Posting:
        nonlocal decoded
        decoded += rows.size
        return decode_postings(bt, False, decode, deleted, rows)[t]

    def _probe(t: str, cand_ids: np.ndarray):
        """-> (indexes into `cand_ids` of the docs holding `t`, their
        `t` scores), decoding only the blocks of `t` whose exact
        [doc_id_base, doc_id_max] range holds at least one candidate
        id (iff searchsorted moves)."""
        rows = avail[t]
        lo = np.searchsorted(cand_ids, bt.cols["doc_id_base"][rows], "left")
        hi = np.searchsorted(cand_ids, bt.cols["doc_id_max"][rows], "right")
        rows = rows[hi > lo]
        if not rows.size:
            return np.empty(0, np.int64), np.empty(0)
        pt = _decode(t, rows)
        _, ia, ib = np.intersect1d(
            cand_ids, pt.ids, assume_unique=True, return_indices=True
        )
        return ia, _score(t, pt.tfs[ib], pt.dls[ib])

    if kind == "and":
        # decode rarest term (fewest postings) fully
        n_docs = bt.cols["n_docs"]
        order = sorted(avail, key=lambda t: int(n_docs[avail[t]].sum()))
        first = order[0]
        p = _decode(first, avail[first])
        cand_ids = p.ids
        score = _score(first, p.tfs, p.dls)
        for t in order[1:]:
            ia, sc = _probe(t, cand_ids)  # decodes nothing once empty
            cand_ids, score = cand_ids[ia], score[ia] + sc
        _count_blocks(total, decoded, stats_acc)
        return cand_ids, score

    # kind == 'or': MaxScore with candidate-restricted tail decoding.
    # Invariant at iteration i: `remaining` = sum of ubs over
    # order[i:]. A doc matching ONLY tail terms is bounded by
    # `remaining`; once the k-th accumulated (partial, hence lower
    # bound) score exceeds it, tail terms need only update docs
    # already in the accumulator — decoding just blocks whose doc
    # range overlaps the candidates.
    from lucille_spark.scoring import term_upper_bound

    ubs = {
        t: term_upper_bound(
            terms[t].sim,
            int(bt.cols["max_tf"][avail[t]].max()),
            terms[t].idf,
            terms[t].tw,
        )
        for t in avail
    }
    order = sorted(avail, key=lambda t: -ubs[t])
    acc_ids = np.empty(0, np.int64)
    acc_sc = np.empty(0, np.float64)
    remaining = sum(ubs.values())
    for i, t in enumerate(order):
        threshold = -np.inf
        if 0 < k <= acc_ids.size:  # k <= 0: no k-th score to beat
            threshold = np.partition(acc_sc, acc_sc.size - k)[
                acc_sc.size - k
            ]
        if threshold > remaining:
            for t2 in order[i:]:
                ia, sc = _probe(t2, acc_ids)
                acc_sc[ia] += sc
            break
        pt = _decode(t, avail[t])
        sc = _score(t, pt.tfs, pt.dls)
        acc_ids, acc_sc = _merge_acc(acc_ids, acc_sc, pt.ids, sc)
        remaining -= ubs[t]
    _count_blocks(total, decoded, stats_acc)
    return acc_ids, acc_sc


def _merge_acc(ids_a, sc_a, ids_b, sc_b):
    if ids_a.size == 0:
        return ids_b, sc_b
    all_ids = np.union1d(ids_a, ids_b)
    out = np.zeros(all_ids.size, dtype=np.float64)
    pa = np.searchsorted(all_ids, ids_a)
    out[pa] += sc_a
    pb = np.searchsorted(all_ids, ids_b)
    out[pb] += sc_b
    return all_ids, out


_PRUNE_STATS = {"total_blocks": 0, "decoded_blocks": 0}
# LocalSearcher serves threads: an unlocked `+=` on the dict loses
# updates between its read and its write
_PRUNE_LOCK = threading.Lock()


def _count_blocks(total: int, decoded: int, stats_acc=None) -> None:
    """Add one pruned evaluation's block counts to _PRUNE_STATS, and
    to the profiling accumulators when given: the module counters are
    worker-local on Spark, accumulators are the only channel back."""
    with _PRUNE_LOCK:
        _PRUNE_STATS["total_blocks"] += int(total)
        _PRUNE_STATS["decoded_blocks"] += int(decoded)
    if stats_acc is not None:
        stats_acc[0].add(int(total))
        stats_acc[1].add(int(decoded))


def reset_prune_stats():
    with _PRUNE_LOCK:
        _PRUNE_STATS["total_blocks"] = 0
        _PRUNE_STATS["decoded_blocks"] = 0


def get_prune_stats():
    with _PRUNE_LOCK:
        return dict(_PRUNE_STATS)
