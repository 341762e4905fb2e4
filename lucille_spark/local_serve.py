"""Embedded serving: the whole index slice in driver memory, zero
Spark jobs per query.

Single-query latency through the distributed executors is ~90%
fixed Spark job overhead at interactive corpus sizes (BENCH:
~350 ms warm vs ~3 ms/query batched). When the slice you serve
fits in one process — a shard, a tenant partition, a time slice —
the right shape is Lucene's: an in-process reader. `LocalSearcher`
loads the segment and doclens tables ONCE (the only Spark jobs it
ever runs), then answers queries in about a millisecond by running
the SAME shard kernel the distributed WAND executor ships to workers
(`exec_wand._make_kernel`) — one code path, so embedded results are
bit-identical to cluster results by construction, and every kernel
feature rides along (block-max pruning, positions, tombstones, meta
filters, per-field similarity). Without predecode the segment table
is held as one term-sorted `exec_wand.BlockTable`: a request slices
its terms' row runs with np.searchsorted and hands them to the
kernel, which decodes them on numpy columns.

At 100 TB this is not a replacement for the shard-parallel path:
it is the per-executor sidecar / edge-cache shape — pin a hot
shard (or an alias generation) in each serving process and route
queries to it; the batched `search_many` path remains the bulk
front door.

Expansion queries (prefix/wildcard/fuzzy/range) plan through the
index dictionary: with the driver-side dictionary loaded (the
default under `driver_dict_max_terms`) planning is in-process too,
so a served query touches Spark zero times.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from lucille_spark import plans as P


class LocalSearcher:
    def __init__(
        self,
        spark,
        index_dir: str,
        similarity: str = "bm25",
        prune: bool = True,
        field_similarity=None,
        predecode: bool = False,
    ):
        """predecode=True decodes every posting list's ids/tf/dl
        once at open into one resident ShardData; POSITIONS decode
        lazily per term on the first phrase query that needs them
        (memoized — see ShardData.pos_loader). Positions are the
        bulk of both warm-up time and resident memory, and most
        serving queries never touch them, so lazy is the default
        hot mode. predecode="full" decodes positions eagerly too
        (zero first-phrase jitter, highest memory). False keeps
        blocks compressed and decodes per query."""
        from lucille_spark.index.reader import SparkIndex

        self.ix = SparkIndex(
            spark,
            index_dir,
            similarity=similarity,
            field_similarity=field_similarity,
        )
        self.prune = prune
        self.avgdl = float(self.ix.stats["avg_dl"])
        self.meta_cols = list(self.ix.stats.get("meta_cols", []))
        from lucille_spark.exec_wand import DECODERS, BlockTable

        self.decode = DECODERS[self.ix.stats.get("codec", "varbyte")]
        # ---- the one-time loads (the ONLY Spark jobs) ----
        self.seg_pdf = self.ix.segments.toPandas()
        self.dl_pdf = (
            self.ix.doclens.drop("shard")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        # in-process: always pass the tombstone ARRAY (the shipping
        # threshold exec_wand guards against does not apply here)
        self.deleted = self.ix.deleted_ids
        self._sd = (
            self._predecode(full=(predecode == "full"))
            if predecode
            else None
        )
        # per-query decode: the blocks as term-sorted numpy columns
        self._blocks = None if predecode else BlockTable.from_frame(self.seg_pdf)

    def _predecode(self, full: bool = False):
        from lucille_spark.exec_wand import (
            BlockTable, _shard_universe, decode_postings,
        )

        meta = [c for c in self.dl_pdf.columns if c not in ("doc_id", "doc_len")]
        sd, _ = _shard_universe(self.avgdl, self.dl_pdf, meta, self.deleted)
        # one vectorized decode of every block (varbyte concatenation
        # is decode-exact); positions land CSR — at 640k docs this
        # replaced a 128 s per-block Python loop with ~15 s of
        # whole-array numpy (lazy positions; ~35 s "full") and cut
        # resident positions from millions of tiny arrays to one
        # array + bounds per term
        sd.postings = decode_postings(
            BlockTable.from_frame(self.seg_pdf), bool(full), self.decode,
            self.deleted,
        )
        if not full:
            sd.pos_loader = self._load_positions
        return sd

    def _load_positions(self, term: str):
        """ShardData.pos_loader hook: decode ONE term's positions on
        first phrase use and swap the enriched Posting in (memoized
        by being stored back into sd.postings)."""
        from lucille_spark.exec_wand import BlockTable, decode_postings

        rows = self.seg_pdf[self.seg_pdf["term"] == term]
        p = decode_postings(
            BlockTable.from_frame(rows), True, self.decode, self.deleted
        ).get(str(term))
        if p is None:
            return None
        old = self._sd.postings.get(term)
        if old is not None:
            p.score_memo = old.score_memo
        self._sd.postings[term] = p
        return p

    def n_docs(self) -> int:
        return len(self.dl_pdf)

    def refresh_deletes(self) -> None:
        """Make tombstones written since open visible WITHOUT a
        reload (the NRT-delete story for a long-lived sidecar):
        re-read the delete set and, in predecoded mode, mask the
        newly dead ids out of the resident arrays in place — no
        re-decode, no Spark scan of postings."""
        import numpy as np

        from lucille_spark.exec_wand import _in_sorted

        self.ix.refresh_deletes()
        new = self.ix.deleted_ids
        if new is None or (
            self.deleted is not None
            and new.size == self.deleted.size
        ):
            self.deleted = new
            return
        fresh = (
            new
            if self.deleted is None
            else np.setdiff1d(new, self.deleted)
        )
        self.deleted = new
        if self._sd is None or fresh.size == 0:
            return
        sd = self._sd
        if sd.all_ids.size:
            live = ~_in_sorted(sd.all_ids, fresh)
            sd.all_ids = sd.all_ids[live]
            sd.all_dls = sd.all_dls[live]
            for c in list(sd.meta):
                sd.meta[c] = sd.meta[c][live]
        from lucille_spark.exec_wand import _csr_take

        for term, p in sd.postings.items():
            if not p.ids.size:
                continue
            live = ~_in_sorted(p.ids, fresh)
            if live.all():
                continue
            if p.pos_flat is not None:
                keep = np.flatnonzero(live)
                p.pos_flat, p.pos_bounds = _csr_take(
                    p.pos_flat, p.pos_bounds, keep
                )
            p.ids = p.ids[live]
            p.tfs = p.tfs[live]
            p.dls = p.dls[live]
            p.score_memo = None  # tf/dl arrays changed
            if p.positions is not None:
                p.positions = [
                    pos for pos, m in zip(p.positions, live) if m
                ]

    def search(
        self,
        query,
        k: int = 10,
        synonyms=None,
    ) -> pd.DataFrame:
        """-> pandas (doc_id, score) sorted by score desc, doc_id
        asc — the embedded twin of WandExecutor.search (same plan,
        same kernel, no Spark job)."""
        from lucille_spark.exec_wand import _make_kernel

        node = self.ix.plan(query, synonyms=synonyms)
        if self._sd is not None:
            # hot path: one resident decoded ShardData, straight to
            # the shared evaluator (the same eval_local.evaluate the
            # worker kernel calls — parity by construction)
            from lucille_spark.eval_local import evaluate, top_k

            ids, scores = evaluate(node, self._sd)
            ids, scores = top_k(ids, scores, int(k))
            return pd.DataFrame({"doc_id": ids, "score": scores}, copy=False)
        need_uni = P.needs_universe(node) or (
            self.deleted is not None
        )
        kernel = _make_kernel(
            node,
            self.avgdl,
            int(k),
            self.prune,
            need_uni,
            self.meta_cols,
            self.decode,
            self.deleted,
        )
        # slice the block table with the SAME bounds the distributed
        # path pushes to parquet (exact terms + string intervals from
        # expansion predicates — conservative, so the kernel always
        # sees every posting it may touch); the kernel's top-k is
        # already in (score desc, doc_id asc) order
        from lucille_spark.pushdown import file_prune_bounds

        segs = self._blocks.select(*file_prune_bounds(node))
        return kernel(segs, self.dl_pdf) if need_uni else kernel(segs)

    def search_many(
        self, queries, k: int = 10, synonyms=None
    ) -> pd.DataFrame:
        """N queries in-process -> pandas (query_id, doc_id, score);
        at embedded latency a plain loop IS the batch path."""
        frames = []
        qmap = (
            queries
            if isinstance(queries, dict)
            else {f"q{i}": q for i, q in enumerate(queries)}
        )
        for qid, q in qmap.items():
            r = self.search(q, k=k, synonyms=synonyms)
            r.insert(0, "query_id", qid)
            frames.append(r)
        return pd.concat(frames, ignore_index=True)
