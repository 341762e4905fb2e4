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
for both `search` and `search_many` (`exec_wand._make_kernel`, called
here with a batch of one query) — one code path, so embedded results
are bit-identical to cluster results by construction, and every
kernel feature rides along (block-max pruning, positions, tombstones,
meta filters, per-field similarity). Without predecode the segment
table is held as one term-sorted `exec_wand.BlockTable`: a request
slices its terms' row runs with np.searchsorted and hands them to the
kernel, which decodes them on numpy columns and returns the top-k as
arrays.

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

import threading
from dataclasses import replace
from functools import partial
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

        self._open(
            SparkIndex(
                spark,
                index_dir,
                similarity=similarity,
                field_similarity=field_similarity,
            ),
            prune,
            predecode,
        )

    @classmethod
    def from_index(cls, ix, prune: bool = True, predecode: bool = False):
        """-> a LocalSearcher over an already open SparkIndex, sharing
        its stats, dictionary, planner and tombstone set instead of
        opening the directory a second time (`Searcher.embedded`).
        Deletes refreshed through either side reach both."""
        self = cls.__new__(cls)
        self._open(ix, prune, predecode)
        return self

    def _open(self, ix, prune, predecode) -> None:
        self.ix = ix
        self.prune = prune
        self.avgdl = float(self.ix.stats["avg_dl"])
        self.meta_cols = list(self.ix.stats.get("meta_cols", []))
        from lucille_spark.exec_wand import BlockTable

        # ---- the one-time loads (the ONLY Spark jobs) ----
        self.seg_pdf = self.ix.uncached("segments").toPandas()
        self.dl_pdf = (
            self.ix.uncached("doclens").drop("shard")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        # in-process: always pass the tombstone ARRAY (the shipping
        # threshold exec_wand guards against does not apply here)
        self.deleted = self.ix.deleted_ids
        # the reader's plan_version the tombstones above belong to
        self._deletes_version = self.ix.plan_version
        self._deletes_lock = threading.Lock()
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
            BlockTable.from_frame(self.seg_pdf), bool(full), self.deleted,
        )
        if not full:
            sd.pos_loader = partial(self._load_positions, sd, self.deleted)
        return sd

    def _load_positions(self, sd, deleted, term: str):
        """ShardData.pos_loader hook of `sd`, whose postings were
        masked with the tombstones `deleted`: decode ONE term's
        positions on first phrase use with that same mask (so the
        ids match the resident posting's and its score memo) and
        swap the enriched Posting into `sd` (memoized there)."""
        from lucille_spark.exec_wand import BlockTable, decode_postings

        rows = self.seg_pdf[self.seg_pdf["term"] == term]
        p = decode_postings(
            BlockTable.from_frame(rows), True, deleted
        ).get(str(term))
        if p is None:
            return None
        old = sd.postings.get(term)
        if old is not None:
            p.score_memo = old.score_memo
        sd.postings[term] = p
        return p

    def n_docs(self) -> int:
        return len(self.dl_pdf)

    def refresh_deletes(self) -> None:
        """Make tombstones written since open visible WITHOUT a
        reload (the NRT-delete story for a long-lived sidecar):
        re-read the delete set and, in predecoded mode, mask the
        newly dead ids out of the resident arrays in place — no
        re-decode, no Spark scan of postings. A refresh_deletes on
        the shared reader (say through the Searcher that opened this
        sidecar) is picked up by the next search the same way."""
        self.ix.refresh_deletes()
        self._sync_deletes()

    def _sync_deletes(self) -> None:
        # the version is recorded only once the masked ShardData is
        # published: a search that sees it current also sees the data
        with self._deletes_lock:
            version = self.ix.plan_version
            if self._deletes_version != version:
                self._apply_deletes()
                self._deletes_version = version

    def _apply_deletes(self) -> None:
        """Mask newly tombstoned ids out of the resident ShardData.
        Concurrent searches keep reading the old ShardData, so the
        masked copy (unchanged postings shared, not copied) is built
        aside and published with one assignment to `_sd`."""
        import numpy as np

        from lucille_spark.exec_wand import _csr_take, _in_sorted

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
        old = self._sd
        sd = replace(old, postings={}, pos_loader=None)
        if sd.all_ids.size:
            live = ~_in_sorted(sd.all_ids, fresh)
            sd.all_ids, sd.all_dls = sd.all_ids[live], sd.all_dls[live]
            sd.meta = {c: v[live] for c, v in sd.meta.items()}
        # a list: a lazy-positions load may swap a posting into `old`
        for term, p in list(old.postings.items()):
            live = ~_in_sorted(p.ids, fresh) if p.ids.size else None
            if live is None or live.all():
                sd.postings[term] = p
                continue
            pos_flat, pos_bounds = p.pos_flat, p.pos_bounds
            if pos_flat is not None:
                pos_flat, pos_bounds = _csr_take(
                    pos_flat, pos_bounds, np.flatnonzero(live)
                )
            sd.postings[term] = replace(
                p, ids=p.ids[live], tfs=p.tfs[live], dls=p.dls[live],
                pos_flat=pos_flat, pos_bounds=pos_bounds,
                positions=(
                    None if p.positions is None
                    else [x for x, m in zip(p.positions, live) if m]
                ),
                score_memo=None,  # tf/dl arrays changed
            )
        if old.pos_loader is not None:
            sd.pos_loader = partial(self._load_positions, sd, new)
        self._sd = sd

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

        if self._deletes_version != self.ix.plan_version:
            self._sync_deletes()
        node = self.ix.plan(query, synonyms=synonyms)
        sd = self._sd  # one snapshot: a delete refresh swaps it whole
        if sd is not None:
            # hot path: one resident decoded ShardData, straight to
            # the shared evaluator (the same eval_local.evaluate the
            # worker kernel calls — parity by construction)
            from lucille_spark.eval_local import evaluate, top_k

            ids, scores = evaluate(node, sd)
            ids, scores = top_k(ids, scores, int(k))
            return pd.DataFrame({"doc_id": ids, "score": scores}, copy=False)
        deleted = self.deleted
        kernel = _make_kernel(
            {"q0": node}, self.avgdl, {"q0": int(k)}, self.prune,
            self.meta_cols, deleted,
        )
        # slice the block table with the SAME bounds the distributed
        # path pushes to parquet (exact terms + string intervals from
        # expansion predicates — conservative, so the kernel always
        # sees every posting it may touch); the kernel's top-k is
        # already in (score desc, doc_id asc) order
        from lucille_spark.pushdown import file_prune_bounds

        segs = self._blocks.select(*file_prune_bounds(node))
        need_uni = P.needs_universe(node) or deleted is not None
        out = kernel(segs, self.dl_pdf if need_uni else None)
        return pd.DataFrame(
            {"doc_id": out["doc_id"], "score": out["score"]}, copy=False
        )

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
