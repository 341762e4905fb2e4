"""One-stop serving facade: open an index once and get the API a
user coming from a Lucene/Elasticsearch client expects — search
(either executor), batched search, count, facets, pagination,
snippets, spell suggestion, and operational explain — without wiring
executors and feature helpers by hand.

Thin by design: every method delegates to the gated implementations
(exec_df / exec_wand / search_features), so the facade adds no
semantics of its own — it is the recommended entry point for
applications, while the underlying pieces stay directly usable.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from lucille_spark.exec_df import DataFrameExecutor
from lucille_spark.exec_wand import WandExecutor
from lucille_spark.index.reader import SparkIndex
from lucille_spark.lru import LRUCache


class SearchFuture:
    """Handle for one query inside a micro-batch: `result()` blocks
    until the batch it joined is flushed and returns that query's
    [(doc_id, score), ...] rows (score desc, doc_id asc)."""

    def __init__(self) -> None:
        self._event = threading.Event()
        self._rows: Optional[List[Tuple[int, float]]] = None
        self._error: Optional[BaseException] = None

    def done(self) -> bool:
        return self._event.is_set()

    def result(
        self, timeout: Optional[float] = None
    ) -> List[Tuple[int, float]]:
        if not self._event.wait(timeout):
            raise TimeoutError("batch not flushed within timeout")
        if self._error is not None:
            raise self._error
        return list(self._rows or [])

    def _resolve(self, rows, error=None) -> None:
        self._rows = rows
        self._error = error
        self._event.set()


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        executor: str = "wand",
        similarity: str = "bm25",
        field_similarity: Optional[Dict[str, str]] = None,
        cache: bool = True,
        prune: bool = True,
        warm: bool = False,
    ) -> None:
        """`warm=True` runs the executors' warmup() at construction:
        pays whole-stage-codegen compilation and the Python-worker
        pool spawn once at serving startup instead of on the first
        user query (~1-2 s; the standard serving-process warm-pool
        step)."""
        if executor not in ("wand", "df"):
            raise ValueError("executor must be 'wand' or 'df'")
        if isinstance(index_dir, (list, tuple)):
            # ALIAS serving: one Searcher over several physical
            # indexes (rolling daily indexes, region shards). The
            # MultiIndex union merges df/cf/avgdl into one global
            # stats view, so BM25 ranks exactly as if the corpora
            # had been built together (the hash-gated delta
            # contract, reused for arbitrary index sets).
            from lucille_spark.streaming import open_alias

            self.index = open_alias(
                spark, list(index_dir), similarity=similarity
            )
        else:
            self.index = SparkIndex(
                spark,
                index_dir,
                cache=cache,
                similarity=similarity,
                field_similarity=field_similarity,
            )
        self._df_ex = DataFrameExecutor(self.index)
        self._wand_ex = WandExecutor(self.index, prune=prune)
        self.executor = (
            self._wand_ex if executor == "wand" else self._df_ex
        )
        if warm:
            # the two executors' warmup jobs are independent — run
            # them as concurrent Spark jobs (scheduler interleaves;
            # ~2.3 s serial -> ~1.4 s)
            t = threading.Thread(target=self._wand_ex.warmup)
            t.start()
            self._df_ex.warmup()
            t.join()

        # micro-batching state (see submit)
        self._mb_lock = threading.Lock()
        self._mb_pending: Dict[str, tuple] = {}
        self._mb_seq = 0
        self._mb_timer: Optional[threading.Timer] = None
        self.batch_window_s = 0.02
        self.max_batch = 64

        # request cache (see enable_request_cache)
        self._rcache: Optional[LRUCache] = None

    def embedded(self, predecode: bool = True):
        """-> a LocalSearcher over this Searcher's open index: the
        zero-Spark-jobs serving path (local_serve) for when this
        process should answer single queries at millisecond latency
        — a sidecar next to the batched submit() front door. It
        shares the reader (stats, dictionary, planner, tombstones),
        so opening it collects only the segment and doclens tables,
        and a refresh_deletes on either side reaches both. Single
        physical indexes only (alias sets stay on the batched path)."""
        from lucille_spark.local_serve import LocalSearcher

        if not isinstance(self.index, SparkIndex):
            raise ValueError(
                "embedded() serves a single physical index; alias "
                "sets stay on the batched search_many path"
            )
        return LocalSearcher.from_index(self.index, predecode=predecode)

    # -- request cache ---------------------------------------------
    def enable_request_cache(self, max_entries: int = 128) -> None:
        """ES-style request cache: memoize COLLECTED result pages of
        plain string searches keyed on (query, k, with_meta,
        executor kind) and the index's plan_version. A hit rebuilds
        a local DataFrame from the cached rows — zero Spark jobs.
        LRU-bounded; calling this again starts a new, empty cache
        with fresh counters. A refresh_deletes on the index (also
        through embedded()) bumps plan_version, so no page cached
        before it is served after it — same contract as ES's cache
        invalidation on refresh. After physical maintenance
        (upserts, compaction into a new directory) open a new
        Searcher."""
        self._rcache = LRUCache(max_entries)

    def clear_request_cache(self) -> None:
        if self._rcache is not None:
            self._rcache.clear()

    def request_cache_stats(self) -> dict:
        if self._rcache is None:
            return {"enabled": False, "entries": 0, "hits": 0, "misses": 0}
        st = self._rcache.stats()
        del st["evictions"]
        return {"enabled": True, **st}

    # -- core ------------------------------------------------------
    def search(
        self, query, k: int = 10, with_meta: bool = False,
        synonyms=None, indices_boost=None,
    ):
        """`indices_boost` (alias serving only): the ES request-body
        section — {index_dir: factor} or a positional [factor, ...]
        over the alias parts; each part's scores multiply by its
        factor BEFORE the top-k cut. Resolved to doc-id ranges via
        the alias's part table, then applied inside the executor."""
        # getattr: tests (and embedders) may bind a bare
        # Searcher.__new__ to an open index without running __init__
        cacheable = (
            getattr(self, "_rcache", None) is not None
            and isinstance(query, str)
            and synonyms is None
            and indices_boost is None
        )
        if cacheable:
            kind = "wand" if self.executor is self._wand_ex else "df"
            key = (
                query, k, with_meta, kind,
                getattr(self.index, "plan_version", 0),
            )
            hit = self._rcache.get(key)
            if hit is None:
                out = self.executor.search(query, k=k, with_meta=with_meta)
                hit = self._rcache.put(key, (out.schema, out.collect()))
            schema, rows = hit
            spark = self.index.doclens.sparkSession
            return spark.createDataFrame(rows, schema)
        return self.executor.search(
            query, k=k, with_meta=with_meta, synonyms=synonyms,
            doc_boosts=self._resolve_indices_boost(indices_boost),
        )

    def _resolve_indices_boost(self, indices_boost):
        if not indices_boost:
            return None
        ranges = getattr(self.index, "part_ranges", None)
        if not ranges:
            raise ValueError(
                "indices_boost needs alias serving: open this "
                "Searcher over a LIST of index dirs"
            )
        if isinstance(indices_boost, dict):
            unknown = set(indices_boost) - {d for d, _, _ in ranges}
            if unknown:
                raise ValueError(
                    f"indices_boost: unknown index dirs {sorted(unknown)}"
                )
            return [
                (lo, hi, float(indices_boost[d]))
                for d, lo, hi in ranges
                if d in indices_boost
            ]
        factors = list(indices_boost)
        if len(factors) != len(ranges):
            raise ValueError(
                f"indices_boost: {len(factors)} factors for "
                f"{len(ranges)} alias parts"
            )
        return [
            (lo, hi, float(f))
            for (d, lo, hi), f in zip(ranges, factors)
        ]

    def search_many(self, queries, k: int = 10, **kw) -> DataFrame:
        return self.executor.search_many(queries, k=k, **kw)

    # -- micro-batched serving ---------------------------------------
    # Single-query latency at serving time is ~90% fixed Spark job
    # overhead, so the scalable front door coalesces concurrent
    # queries into ONE search_many job (one segment scan + one kernel
    # pass for the whole batch — measured ~6x lower per-query cost at
    # batch=6, see bench.py). submit() enqueues and returns a
    # SearchFuture; the batch flushes when `max_batch` queries are
    # waiting or `batch_window_s` elapses, whichever first.

    def submit(
        self, query, k: int = 10, similarity: Optional[str] = None
    ) -> SearchFuture:
        fut = SearchFuture()
        with self._mb_lock:
            qid = f"s{self._mb_seq}"
            self._mb_seq += 1
            self._mb_pending[qid] = (query, k, similarity, fut)
            n = len(self._mb_pending)
            if n >= self.max_batch:
                if self._mb_timer is not None:
                    self._mb_timer.cancel()
                    self._mb_timer = None
                pending = self._mb_pending
                self._mb_pending = {}
            else:
                pending = None
                if self._mb_timer is None:
                    self._mb_timer = threading.Timer(
                        self.batch_window_s, self.flush
                    )
                    self._mb_timer.daemon = True
                    self._mb_timer.start()
        if pending is not None:
            self._run_batch(pending)
        return fut

    def flush(self) -> None:
        """Flush the waiting micro-batch now (also runs on the window
        timer)."""
        with self._mb_lock:
            if self._mb_timer is not None:
                self._mb_timer.cancel()
                self._mb_timer = None
            pending = self._mb_pending
            self._mb_pending = {}
        if pending:
            self._run_batch(pending)

    def _run_batch(self, pending: Dict[str, tuple]) -> None:
        queries = {qid: p[0] for qid, p in pending.items()}
        ks = {qid: p[1] for qid, p in pending.items()}
        sims = {
            qid: p[2] for qid, p in pending.items() if p[2] is not None
        }
        try:
            rows = self.executor.search_many(
                queries, ks=ks, similarities=sims or None
            ).collect()
        except BaseException as e:  # propagate to every waiter
            for _, _, _, fut in pending.values():
                fut._resolve(None, e)
            return
        by_q: Dict[str, list] = {qid: [] for qid in pending}
        for r in rows:
            by_q[r["query_id"]].append(
                (int(r["doc_id"]), float(r["score"]))
            )
        for qid, (_, _, _, fut) in pending.items():
            fut._resolve(by_q.get(qid, []))

    def analyze(self, text: str) -> list:
        """ES `_analyze`: the index's OWN analyzer applied to a
        string — what the engine actually matches on (debugging
        "why doesn't this query hit"). Driver-side, no job."""
        return list(self.index.planner.tokenize(text))

    def stats(self) -> dict:
        """ES `_stats`-style snapshot: docs, terms, avg_dl, analyzer,
        deletes, cache counters. Reads the stats the index already
        carries + the tombstone count (one tiny count when deletes
        exist)."""
        ix = self.index
        out = {
            "n_docs": int(ix.stats["n_docs"]),
            "n_terms": ix.stats.get("n_terms"),
            "avg_dl": float(ix.stats["avg_dl"]),
            "analyzer": ix.stats.get("analyzer", "standard"),
            "meta_cols": list(ix.stats.get("meta_cols", [])),
            "deleted": int(getattr(ix, "deleted_count", 0) or 0),
        }
        # entries/hits/misses/evictions of every serving cache: both
        # plan caches, the reader's pruned frames (single physical
        # index) and the request cache when enabled
        caches = {
            "plan_df": self._df_ex._plan_cache,
            "plan_wand": self._wand_ex._plan_cache,
            "pruned": getattr(ix, "_pruned_cache", None),
            "request": self._rcache,
        }
        out["caches"] = {
            name: c.stats() for name, c in caches.items() if c is not None
        }
        return out

    def mapping(self) -> dict:
        """ES `GET /<index>/_mapping` equivalent: the index's field
        map — the indexed full-text fields (content + indexed_cols),
        every stored meta column with its recorded value type
        (keyword/long, Lucene-points style), and the geo convention.
        Driver-side from stats.json, no job."""
        ix = self.index
        st = ix.stats
        props: dict = {
            "content": {"type": "text", "analyzer": st.get(
                "analyzer", "standard")},
        }
        for f in st.get("indexed_fields", {}) or {}:
            props[f] = {"type": "text", "analyzer": st.get(
                "analyzer", "standard")}
        mt = st.get("meta_types", {}) or {}
        for c in st.get("meta_cols", []) or []:
            props[c] = {
                "type": "long" if mt.get(c) == "num" else "keyword"
            }
        if st.get("index_sort"):
            props["_index_sort"] = {"field": st["index_sort"]}
        return {"mappings": {"properties": props}}

    def field_caps(self) -> dict:
        """ES `_field_caps`: per field, its type and whether it is
        searchable (full-text) / aggregatable (stored doc value).
        Driver-side from the mapping, no job."""
        caps = {}
        for f, spec in self.mapping()["mappings"]["properties"].items():
            if f.startswith("_"):
                continue
            t = spec["type"]
            caps[f] = {
                t: {
                    "type": t,
                    "searchable": True,
                    "aggregatable": t != "text",
                }
            }
        return {"fields": caps}

    def search_es(self, dsl, k: int = 10, **kw) -> DataFrame:
        """Elasticsearch Query-DSL front door (lucille_spark.esdsl):
        run a JSON query dict through the shared planner/executors.
        `docs=` (terms lookup / more_like_this source) and `emb=`
        (the ES 8 top-level knn section) pass through."""
        from lucille_spark.esdsl import search_es as _se

        return _se(self.executor, dsl, k=k, **kw)

    def count(self, query) -> int:
        from lucille_spark.search_features import match_count

        return int(match_count(self._df_ex, query).collect()[0]["n"])

    # -- result-page features ---------------------------------------
    def facets(self, query, col: str = "lang") -> DataFrame:
        from lucille_spark.search_features import facet_counts

        return facet_counts(self._df_ex, query, col)

    def page(self, query, page_size: int = 10, cursor=None) -> DataFrame:
        from lucille_spark.search_features import paginate

        return paginate(self._df_ex, query, page_size, cursor)

    def snippets(
        self, query, docs: DataFrame, k: int = 10, **kw
    ) -> DataFrame:
        from lucille_spark.search_features import search_with_snippets

        return search_with_snippets(self._df_ex, query, docs, k=k, **kw)

    def sort_by(
        self, query, field: str, ascending: bool = True, k: int = 10,
        numeric: bool = False,
    ) -> DataFrame:
        from lucille_spark.search_features import sort_by

        return sort_by(
            self._df_ex, query, field, ascending, k, numeric
        )

    # -- assistive ---------------------------------------------------
    def suggest(self, term: str, max_dist: int = 1, n: int = 5):
        from lucille_spark.search_features import suggest

        return suggest(self.index, term, max_dist, n)

    def explain(self, query) -> dict:
        from lucille_spark.search_features import explain_search

        return explain_search(self.index, query)

    def profile(self, query, k: int = 10) -> dict:
        """ES `"profile": true` — phase timings, resolved plan
        tree, block-prune and dictionary-scan counters (esdsl
        .profile_es) on this Searcher's executor kind."""
        from lucille_spark.esdsl import profile_es

        kind = "wand" if self.executor is self._wand_ex else "df"
        return profile_es(self.index, query, k=k, executor=kind)

    def suggest_es(self, body: dict) -> dict:
        """The ES `suggest` request-body section: named
        term / phrase / completion suggesters -> {name: DataFrame}."""
        from lucille_spark.esdsl import suggest_es as _sg

        return _sg(self.index, body)

    def search_template(self, body: dict, k: int = 10, **kw):
        """ES `_search/template`: {"source": mustache-template,
        "params": {...}} rendered (render_template's documented
        subset) and served through search_es."""
        from lucille_spark.esdsl import search_template as _st

        return _st(self.executor, body, k=k, **kw)

    def render_template(self, source, params=None) -> dict:
        """ES `_render/template`: the rendered body dict, without
        running it."""
        from lucille_spark.esdsl import render_template as _rt

        return _rt(source, params)

    def request(self, body: dict, k: int = 10, **kw) -> dict:
        """One full ES `_search` request: query sections + `aggs` in
        the same body. -> {"hits": DataFrame, "aggregations":
        {name: DataFrame}}."""
        from lucille_spark.esdsl import request_es

        return request_es(self.executor, body, k=k, **kw)

    def graph_explore(self, body: dict, docs) -> dict:
        """ES `_graph/explore`: {"query": ..., "controls":
        {"sample_size": n}, "vertices": [{"field": "content",
        "size": k}], "connections": {"size": m}} -> {"vertices",
        "connections"} DataFrames. Vertices are JLH-significant
        terms of the sampled page (this engine's vocabulary IS the
        content field); needs docs= for the re-analysis, like
        significant_terms."""
        from lucille_spark.search_features import graph_explore

        verts = body.get("vertices") or [{}]
        v0 = verts[0] if isinstance(verts, list) else verts
        if v0.get("field", "content") != "content":
            raise ValueError(
                "graph_explore: only the content vocabulary is a "
                "vertex field here"
            )
        conn = body.get("connections") or {}
        ctl = body.get("controls") or {}
        qspec = body.get("query")
        if isinstance(qspec, dict):
            from lucille_spark.esdsl import to_ast

            qspec = to_ast(qspec)
        return graph_explore(
            self.executor,
            qspec,
            docs,
            vertices_k=int(v0.get("size", 5)),
            connections_k=int(conn.get("size", 10)),
            sample=int(ctl.get("sample_size", 200)),
        )

    def complete(self, prefix: str, n: int = 5) -> DataFrame:
        from lucille_spark.search_features import complete

        return complete(self.index, prefix, n)

    def validate(self, query) -> dict:
        """ES `_validate/query`: parse/translate + plan without
        executing; never raises."""
        from lucille_spark.esdsl import validate_es

        return validate_es(self.index, query)

    def aggs_es(self, aggs: dict, query=None, **kw) -> dict:
        """ES aggregations DSL -> {agg_name: DataFrame}."""
        from lucille_spark.esdsl import aggs_es as _ag

        return _ag(self._df_ex, aggs, query=query, **kw)

    def msearch_es(self, dsls, k: int = 10) -> DataFrame:
        """ES `_msearch`: N DSL queries through the ONE-job batched
        serving path."""
        from lucille_spark.esdsl import msearch_es as _ms

        return _ms(self.executor, dsls, k=k)

    def scroll(self, body: dict, after=None) -> DataFrame:
        """ES scroll / PIT search_after: doc_id-ordered batches of
        the full match set; feed the last doc_id back as `after`."""
        from lucille_spark.esdsl import scroll_es as _sc

        return _sc(self._df_ex, body, after=after)

    def terms_enum(
        self, string: str = "", field: str = "content",
        size: int = 10, search_after=None,
        case_insensitive: bool = False,
    ) -> DataFrame:
        """ES `_terms_enum`: lexicographic dictionary walk (range
        pushdown on the terms table, search_after pagination)."""
        from lucille_spark.search_features import terms_enum

        return terms_enum(
            self.index, string, field, size, search_after,
            case_insensitive,
        )

    def highlight(
        self, query, docs: DataFrame, k: int = 10, **kw
    ) -> DataFrame:
        """ES plain highlighter: text fragments around the first
        matched-term occurrence per hit (needs the source table —
        the index stores no raw text)."""
        from lucille_spark.search_features import highlight_fragments

        return highlight_fragments(self._df_ex, docs, query, k=k, **kw)
