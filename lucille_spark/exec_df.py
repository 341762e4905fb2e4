"""Declarative query executor over `postings_flat`, served through
one Spark SQL statement per query.

`sqlgen` renders the whole physical tree (plus doc boosts, the delete
anti-join, the (score desc, doc_id asc) top-k and the optional meta
join) as a single SELECT over temp views of the index tables, and
`spark.sql` builds the plan in one JVM call. Catalyst sees the whole
plan, so term filters push down to the parquet scan
(`PushedFilters: [EqualTo(term, ...)]`, row-group pruning via the
(term, doc_id) sort order), boolean combination is a union plus one
aggregate with partial aggregation, and the final top-k compiles to
`TakeOrderedAndProject` (distributed top-k, no global sort).

Any index object with `spark`, `stats`, `flat`, `doclens`,
`deleted_df` and `plan()` is served: a `SparkIndex` and the
`streaming.MultiIndex` union behind alias, rollover and PIT views
alike. The WAND executor (exec_wand.py) runs the same physical tree
per shard; tests assert both are rank-identical to the brute-force
oracle, and this path is the one mirrored by the DuckDB oracle SQL in
__spark_entry__.py.

The Column helpers below (`_score_col`, `_bm25_col`, `_boost_case`)
are the same formulas as sqlgen's SQL renderings, for callers that
compose Column expressions (search_features, exec_wand). No UDFs
anywhere in this module.
"""

from __future__ import annotations

import itertools
import logging
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lucille_spark import plans as P
from lucille_spark import sqlgen
from lucille_spark.index.reader import SparkIndex
from lucille_spark.lru import LRUCache
from lucille_spark.pushdown import file_prune_bounds
from lucille_spark.scoring import B, K1, MU

#: process-wide temp-view name sequence; next() on a count is atomic
_VIEW_NAMES = itertools.count(1)


def _view(df: DataFrame, tag: str) -> str:
    """Temp-view name for `df`, registering it on first use. The name
    is memoized on the DataFrame object, so the per-file-set pruned
    frames from SparkIndex's LRU re-use their view (registration is
    one py4j call) until the LRU evicts the frame and drops the view
    (SparkIndex._drop_view). Two threads racing on one frame may both register
    it; each name is unique and reads the same rows, so either is
    correct."""
    name = getattr(df, "_lucille_view", None)
    if name is None:
        name = f"lucille_{tag}_{next(_VIEW_NAMES)}"
        df.createOrReplaceTempView(name)
        df._lucille_view = name
    return name


def _bm25_col(tf: Column, dl: Column, idf_val: float, avgdl) -> Column:
    """avgdl: float or a Column (per-term avgdl map in fused scans)."""
    adl = avgdl if isinstance(avgdl, Column) else F.lit(avgdl)
    tff = tf.cast("double")
    return F.lit(idf_val) * tff / (
        tff + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl.cast("double") / adl)
    )


def _score_col(
    sim: str, tf: Column, dl: Column, w, avgdl, tw=0.0
) -> Column:
    """Similarity-dispatched score expression (scoring.py formulas,
    all in JVM whole-stage codegen). `w`/`avgdl`/`tw` accept a float
    or a Column (per-term map literals in fused multi-term scans)."""
    if sim == "bm25":
        if isinstance(w, Column):
            return w * _bm25_col(tf, dl, 1.0, avgdl)
        return _bm25_col(tf, dl, float(w), avgdl)
    tff = tf.cast("double")
    dld = dl.cast("double")
    if sim == "tfidf":
        shape = F.sqrt(tff) / F.sqrt(F.greatest(dld, F.lit(1.0)))
    elif sim == "lmd":
        twc = tw if isinstance(tw, Column) else F.lit(float(tw))
        raw = F.log1p(tff * twc) + F.log(F.lit(MU) / (dld + F.lit(MU)))
        shape = F.greatest(raw, F.lit(0.0))
    elif sim == "lmjm":
        twc = tw if isinstance(tw, Column) else F.lit(float(tw))
        shape = F.log1p(twc * tff / F.greatest(dld, F.lit(1.0)))
    else:
        raise ValueError(f"unknown similarity {sim!r}")
    if not isinstance(w, Column) and float(w) == 1.0:
        return shape
    return (w if isinstance(w, Column) else F.lit(float(w))) * shape


def _boost_case(doc_boosts):
    """CASE multiplier over disjoint (lo, hi, factor) doc-id ranges;
    ids outside every range keep factor 1.0."""
    b = F.lit(1.0)
    for lo, hi, f in doc_boosts:
        b = F.when(
            (F.col("doc_id") >= int(lo)) & (F.col("doc_id") < int(hi)),
            F.lit(float(f)),
        ).otherwise(b)
    return b


class DataFrameExecutor:
    #: bounded LRU of built (unresolved) plans — see search()
    PLAN_CACHE_MAX = 64

    def __init__(self, index: SparkIndex):
        self.ix = index
        self.avgdl = float(index.stats["avg_dl"])
        self._plan_cache = LRUCache(self.PLAN_CACHE_MAX)

    # ------------------------------------------------------------ api
    def warmup(self) -> None:
        """Pay the PROCESS-level one-time costs at startup instead of
        on the first user query: whole-stage-codegen compilation for
        the scan/filter/aggregate/TakeOrdered shapes and the phrase
        higher-order functions, the parquet file-index listing, and
        broadcast machinery. Standard serving practice (warm pools);
        per-QUERY cold cost (plan construction + that query's scan)
        is unaffected and still measured by the bench's first_query
        legs. Plan nodes skip the string-keyed plan cache, so warmup
        leaves it untouched. Never raises — warmup must not break
        opening an index; a failure is logged."""
        try:
            ts = self.ix.sample_terms(2)
            if not ts:
                return
            t1, t2 = ts[0], ts[-1]
            for q in (f"{t1} AND {t2}", f'"{t1} {t2}"'):
                self.search(self.ix.plan(q), k=1).collect()
        except Exception:
            logging.getLogger(__name__).warning(
                "DataFrameExecutor warmup failed", exc_info=True
            )

    def search(
        self,
        query,
        k: Optional[int] = 10,
        with_meta: bool = False,
        synonyms=None,
        doc_boosts=None,
    ) -> DataFrame:
        """-> DataFrame(doc_id, score) in (score desc, doc_id asc)
        order, limited to k (None = all matches). `synonyms` maps a
        query term to alternatives blended with Lucene SynonymQuery
        stats (plans.Planner.with_synonyms). `doc_boosts` is a list
        of (lo, hi, factor) doc-id ranges whose scores multiply by
        `factor` BEFORE the top-k cut — the ES `indices_boost`
        primitive (alias parts occupy disjoint id ranges); applied
        as one CASE column, no extra pass. Tombstoned docs
        (index.maintenance.delete_docs) are excluded by a broadcast
        anti-join; scores/stats stay as built until purge.

        Repeated string queries hit a bounded plan cache: the built
        DataFrame is immutable, so re-collecting it is exactly
        re-running the query and skips parse, plan and SQL analysis
        (Lucene QueryCache idea, one level up). Keyed on (query, k,
        with_meta) plus the index's plan_version, which
        refresh_deletes() bumps — a cached plan never serves a stale
        tombstone set."""
        cache_key = None
        if isinstance(query, str) and synonyms is None and not doc_boosts:
            cache_key = (
                query, k, with_meta,
                getattr(self.ix, "plan_version", 0),
            )
            hit = self._plan_cache.get(cache_key)
            if hit is not None:
                return hit
        ix = self.ix
        node = ix.plan(query, synonyms=synonyms)
        flat_view, doclens_view = self._views(node)
        dd = getattr(ix, "deleted_df", None)
        meta_cols = None
        if with_meta:
            meta_cols = [
                c for c in ix.doclens.columns
                if c not in ("doc_id", "shard", "doc_len")
            ]
        df = ix.spark.sql(sqlgen.compile_search(
            node, flat_view, doclens_view, self.avgdl, k,
            _view(dd, "deletes") if dd is not None else None,
            doc_boosts, meta_cols,
        ))
        if cache_key is not None:
            return self._plan_cache.put(cache_key, df)
        return df

    def evaluate(self, node: P.PNode) -> DataFrame:
        """-> DataFrame(doc_id long, score double), one row per match,
        unordered and with tombstoned docs still present (callers such
        as search_features.match_count apply their own delete join)."""
        return self.ix.spark.sql(
            sqlgen.SqlCompiler(*self._views(node), self.avgdl).node(node)
        )

    def search_many(
        self, queries, k: int = 10, ks=None, similarities=None
    ) -> DataFrame:
        """Batch counterpart of WandExecutor.search_many on the
        declarative path: union the per-query plans (each keeping its
        own TakeOrderedAndProject top-k) under a query_id tag so N
        queries run as ONE Spark action — subtrees schedule
        concurrently and the per-job fixed overhead is paid once.
        `ks` / `similarities` override k / the ranking formula per
        query id. -> (query_id, doc_id, score).

        Scale note: each per-query plan is one spark.sql call, but the
        union tagging still costs O(batch) driver calls and the JVM
        analyzes N subtrees — WandExecutor.search_many (ONE union
        predicate + one kernel pass, O(expansions) plan cost) remains
        the batch path at scale; this one serves rank-identity checks
        and small batches."""
        if not isinstance(queries, dict):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        sims = similarities or {}
        out = None
        for qid, q in queries.items():
            kq = int((ks or {}).get(qid, k))
            if isinstance(q, str) and qid not in sims:
                # string + default similarity rides search()'s plan
                # cache — repeated batches (Searcher.submit micro-
                # batching) skip the per-query plan construction
                one = self.search(q, k=kq)
            else:
                node = self.ix.plan(q, similarity=sims.get(qid))
                one = self.search(node, k=kq)
            one = one.select(
                F.lit(qid).alias("query_id"), "doc_id", "score"
            )
            out = one if out is None else out.unionAll(one)
        return out

    # ---------------------------------------------------------- views
    def _views(self, node: P.PNode) -> Tuple[str, str]:
        """(flat, doclens) temp-view names for `node`: the postings
        view is file-pruned to the files whose term range can hold
        one of the node's terms, when the index has a per-file term
        manifest (`flat_for`); otherwise it is the full table."""
        ix = self.ix
        flat = ix.flat
        src = getattr(ix, "flat_for", None)
        if src is not None:
            flat = src(*file_prune_bounds(node))
        return _view(flat, "flat"), _view(ix.doclens, "doclens")
