"""Index reader: opens an index directory, exposes the term
dictionary to the planner and the posting tables to the executors.

Two dictionary strategies:

  * ``DriverDictionary`` — for dictionaries up to a few million
    terms, the (term, term_id, df) triple is collected once to the
    driver (a few 10s of MB) and all lookups/expansions are local
    numpy; query planning then costs zero Spark jobs.
  * ``PushdownDictionary`` — for web-scale dictionaries the terms
    parquet (range-partitioned + sorted by term) is queried with
    pushed filters: `startswith` -> row-group min/max pruning,
    exact lookups -> `term IN (...)`. Each expansion is one small
    Spark job touching only matching row groups.

The reader auto-selects by n_terms (`driver_dict_max_terms`).
"""

from __future__ import annotations

import json
import os
import re
import threading
from typing import Dict, List, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucille_spark import ast, parse
from lucille_spark import plans as P
from lucille_spark.index import fsio
from lucille_spark.lru import LRUCache


# Observability for the dictionary expansion paths (prefix, wildcard,
# regex, range, fuzzy): how many dictionary rows the expansions
# since the last reset scanned vs the dictionary size, one dictionary
# size per expansion (the sorted-slice and n-gram prefilters' effect;
# same testing idea as exec_wand._PRUNE_STATS for posting blocks).
_DICT_SCAN_STATS = {"scanned_terms": 0, "total_terms": 0}
# planning runs on serving threads: `+=` on the dict is a separate
# read and write, so unlocked concurrent adds can lose updates
_DICT_SCAN_LOCK = threading.Lock()


def _count_scan(scanned: int, total: int) -> None:
    with _DICT_SCAN_LOCK:
        _DICT_SCAN_STATS["scanned_terms"] += int(scanned)
        _DICT_SCAN_STATS["total_terms"] += int(total)


def reset_dict_scan_stats() -> None:
    with _DICT_SCAN_LOCK:
        _DICT_SCAN_STATS["scanned_terms"] = 0
        _DICT_SCAN_STATS["total_terms"] = 0


def dict_scan_stats() -> dict:
    with _DICT_SCAN_LOCK:
        return dict(_DICT_SCAN_STATS)


def _gram_keys(s: str) -> "list[int]":
    """Required gram keys for one literal run: all trigrams when
    len>=3, else the run itself as a bigram/unigram. Keys pack up to
    3 codepoints (< 2^21 each) into one uint64 — length is implicit
    (a real char is never codepoint 0), so unigram/bigram/trigram
    keyspaces can't collide."""
    L = min(3, len(s))
    out = []
    for i in range(len(s) - L + 1):
        g = s[i : i + L]
        key = 0
        for j, ch in enumerate(g):
            key |= ord(ch) << (21 * j)
        out.append(key)
    return out


class DriverDictionary(P.TermDictionary):
    def __init__(
        self,
        terms: np.ndarray,
        term_ids: np.ndarray,
        dfs: np.ndarray,
        cfs: "np.ndarray | None" = None,
    ):
        order = np.argsort(terms)
        self.terms = terms[order]
        self.term_ids = term_ids[order]
        self.dfs = dfs[order]
        self.cfs = cfs[order] if cfs is not None else None
        self._pos = {t: i for i, t in enumerate(self.terms)}
        # reversed-term order, built lazily on the first
        # leading-wildcard query (Lucene ReverseWildcardFilter idea:
        # a literal SUFFIX becomes a prefix bound on reversed terms)
        self._rev_sorted = None
        self._rev_src = None
        # (gram -> term rows) inverted index, built lazily on the
        # first NO-literal wildcard/regex (e.g. *e*): candidate terms
        # = intersection of the pattern's required-gram buckets, so
        # the fullmatch residual touches a bounded slice instead of
        # the whole dictionary (trigram-index idea, Cox 2012)
        self._gram_sorted = None
        self._gram_rows = None
        self._lens = None  # per-term lengths, on the first fuzzy query

    def _gram_index(self):
        """Lazy (sorted gram keys, term-row ids) pair — a CSR-style
        inverted index over every distinct uni/bi/trigram of every
        term, built fully vectorized (no Python loop over terms):
        the fixed-width-unicode view yields an (n, maxlen) codepoint
        matrix; shifted column ORs produce the gram keys per
        position."""
        if self._gram_sorted is not None:
            return self._gram_sorted, self._gram_rows
        n = self.terms.size
        lens = np.char.str_len(self.terms.astype(str))
        maxlen = max(int(lens.max()) if n else 1, 1)
        mat = (
            self.terms.astype(f"U{maxlen}")
            .view(np.uint32)
            .reshape(n, maxlen)
            .astype(np.uint64)
        )
        rows = np.arange(n, dtype=np.int64)
        key_parts, row_parts = [], []
        for L in (1, 2, 3):
            for j in range(maxlen - L + 1):
                key = mat[:, j].copy()
                valid = key > 0
                for d in range(1, L):
                    c = mat[:, j + d]
                    valid &= c > 0
                    key |= c << np.uint64(21 * d)
                if valid.any():
                    key_parts.append(key[valid])
                    row_parts.append(rows[valid])
        keys = np.concatenate(key_parts) if key_parts else np.array([], np.uint64)
        rws = np.concatenate(row_parts) if row_parts else np.array([], np.int64)
        order = np.lexsort((rws, keys))
        keys, rws = keys[order], rws[order]
        if keys.size:
            keep = np.ones(keys.size, dtype=bool)
            keep[1:] = (keys[1:] != keys[:-1]) | (rws[1:] != rws[:-1])
            keys, rws = keys[keep], rws[keep]
        self._gram_sorted, self._gram_rows = keys, rws
        return keys, rws

    def _gram_candidates(self, pattern: str) -> "np.ndarray | None":
        """Row ids of terms containing every required gram of
        `pattern`, or None when the pattern has no safe literal runs
        (scan-all fallback). Buckets intersect smallest-first."""
        subs = P.regex_required_substrings(pattern)
        req = sorted({k for s in subs for k in _gram_keys(s)})
        if not req:
            return None
        keys, rws = self._gram_index()
        buckets = []
        for k in req:
            lo = np.searchsorted(keys, np.uint64(k))
            hi = np.searchsorted(keys, np.uint64(k), side="right")
            buckets.append(rws[lo:hi])
        buckets.sort(key=lambda b: b.size)
        cand = buckets[0]
        for b in buckets[1:]:
            if cand.size == 0:
                break
            cand = np.intersect1d(cand, b, assume_unique=True)
        return cand

    def lookup_df(self, terms: Sequence[str]) -> Dict[str, int]:
        return {
            t: int(self.dfs[self._pos[t]]) for t in terms if t in self._pos
        }

    def lookup_cf(self, terms: Sequence[str]) -> Dict[str, int]:
        if self.cfs is None:
            raise ValueError("dictionary loaded without cf column")
        return {
            t: int(self.cfs[self._pos[t]]) for t in terms if t in self._pos
        }

    def term_id_map(self, terms: Sequence[str]) -> Dict[str, int]:
        return {
            t: int(self.term_ids[self._pos[t]])
            for t in terms
            if t in self._pos
        }

    def expand_prefix(self, prefix: str) -> List[str]:
        lo = np.searchsorted(self.terms, prefix)
        hi = np.searchsorted(self.terms, prefix + "￿")
        _count_scan(hi - lo, self.terms.size)
        return self.terms[lo:hi].tolist()

    def expand_regex(self, pattern: str) -> List[str]:
        # bound the scan by the pattern's literal prefix (sorted-array
        # slice), then vectorized fullmatch over the slice only — a
        # regex with any literal head touches a tiny fraction of the
        # dictionary instead of a full Python loop over every term.
        # Leading-wildcard patterns (*cat) have no prefix; their
        # literal SUFFIX bounds the scan instead, as a prefix slice
        # of the lazily-built reversed-term order.
        import pandas as pd

        from lucille_spark.plans import (
            regex_literal_prefix,
            regex_literal_suffix,
        )

        prefix = regex_literal_prefix(pattern)
        if prefix:
            lo = np.searchsorted(self.terms, prefix)
            hi = np.searchsorted(self.terms, prefix + "￿")
            sl = self.terms[lo:hi]
        else:
            suffix = regex_literal_suffix(pattern)
            if suffix:
                if self._rev_sorted is None:
                    rev = np.array(
                        [t[::-1] for t in self.terms], dtype=object
                    )
                    order = np.argsort(rev)
                    self._rev_sorted = rev[order]
                    self._rev_src = self.terms[order]
                key = suffix[::-1]
                lo = np.searchsorted(self._rev_sorted, key)
                hi = np.searchsorted(self._rev_sorted, key + "￿")
                sl = self._rev_src[lo:hi]
            else:
                # no prefix OR suffix (*e*, .*foo.*bar.*): intersect
                # the required-gram buckets before the residual
                cand = self._gram_candidates(pattern)
                sl = self.terms if cand is None else self.terms[cand]
        _count_scan(sl.size, self.terms.size)
        if sl.size == 0:
            return []
        mask = pd.Series(sl).str.fullmatch(pattern).to_numpy()
        out = sl[mask]
        return np.sort(out).tolist()

    def expand_range(self, lower, upper, lower_inc, upper_inc) -> List[str]:
        lo = 0
        if lower is not None:
            lo = np.searchsorted(self.terms, lower, "left" if lower_inc else "right")
        hi = self.terms.size
        if upper is not None:
            hi = np.searchsorted(self.terms, upper, "right" if upper_inc else "left")
        _count_scan(max(hi - lo, 0), self.terms.size)
        return self.terms[lo:hi].tolist()

    def expand_fuzzy(
        self, term: str, max_edits: int, transpositions: bool = False
    ) -> List[str]:
        if self._lens is None:
            self._lens = np.char.str_len(self.terms.astype(str))
        near = np.abs(self._lens - len(term)) <= max_edits
        cand = self.terms[near]
        # the edit-distance pass runs over the length band only
        _count_scan(cand.size, self.terms.size)
        if cand.size == 0:
            return []
        mask = _lev_batch(
            cand, term, max_edits, transpositions, self._lens[near]
        )
        return cand[mask].tolist()


def _lev(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _lev_batch(
    cands: np.ndarray,
    term: str,
    max_edits: int,
    transpositions: bool = False,
    clens: "np.ndarray | None" = None,
) -> np.ndarray:
    """Vectorized Levenshtein over a candidate array: rows of a DP
    table of shape (n_cand, maxlen+1) advanced a cell-column at a
    time, only inside Ukkonen's band |i - j| <= max_edits (row i =
    term prefix length, column j = candidate prefix length) — the
    Python loop is O(len(term) * max_edits) regardless of candidate
    count or length. A cell outside the band has distance
    > max_edits; the band edge reads it as max_edits + 1, which
    keeps every in-band cell exact up to that cap, so the final
    `<= max_edits` test is exact (the OSA case included). With
    `transpositions` the recurrence adds the OSA (optimal string
    alignment) case — an adjacent swap costs 1, the same distance
    Lucene's FuzzyQuery uses by default. `clens`: the candidates'
    lengths, when the caller has them.
    -> boolean mask of cands within max_edits."""
    n = cands.size
    if clens is None:
        clens = np.char.str_len(cands.astype(str))
    maxlen = int(clens.max())
    # codepoint matrix via the fixed-width-unicode view (no Python
    # loop over candidates); numpy pads with codepoint 0, a sentinel
    # no query character equals
    mat = (
        cands.astype(f"U{maxlen}")
        .view(np.uint32)
        .reshape(n, maxlen)
        .astype(np.int64)
    )
    tcodes = np.frombuffer(term.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    e, cap = max_edits, max_edits + 1
    prev = np.broadcast_to(
        np.minimum(np.arange(maxlen + 1, dtype=np.int64), cap),
        (n, maxlen + 1),
    ).copy()
    cur = np.empty_like(prev)
    prev2 = np.empty_like(prev)  # row i-2, for the OSA transposition case
    for i, tc in enumerate(tcodes, 1):
        if i - e > maxlen:
            break  # empty band: every candidate is too short
        # the two out-of-band cells the band reads: this row's column
        # i-e-1 (left of the band) and, for row i+1, column i+e+1
        cur[:, 0] = min(i, cap)
        if i - e - 1 >= 0:
            cur[:, i - e - 1] = cap
        if i + e + 1 <= maxlen:
            cur[:, i + e + 1] = cap
        for j in range(max(i - e, 1) - 1, min(i + e, maxlen)):
            best = np.minimum(
                np.minimum(prev[:, j + 1] + 1, cur[:, j] + 1),
                prev[:, j] + (mat[:, j] != tc),
            )
            if transpositions and i >= 2 and j >= 1:
                # term[i-2:i] swapped equals cand[j-1:j+1]
                swap = (mat[:, j] == tcodes[i - 2]) & (
                    mat[:, j - 1] == tc
                )
                best = np.where(
                    swap, np.minimum(best, prev2[:, j - 1] + 1), best
                )
            cur[:, j + 1] = best
        prev2, prev, cur = prev, cur, prev2
    within = np.abs(clens - tcodes.size) <= e
    dist = prev[np.arange(n), clens]
    return within & (dist <= e)


class PushdownDictionary(P.TermDictionary):
    """Expansions as small Spark jobs with parquet filter pushdown."""

    def __init__(self, terms_df: DataFrame):
        self.df = terms_df

    def lookup_df(self, terms: Sequence[str]) -> Dict[str, int]:
        rows = (
            self.df.filter(F.col("term").isin(list(terms)))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def lookup_cf(self, terms: Sequence[str]) -> Dict[str, int]:
        rows = (
            self.df.filter(F.col("term").isin(list(terms)))
            .select("term", "cf")
            .collect()
        )
        return {r["term"]: int(r["cf"]) for r in rows}

    def _terms(self, cond) -> List[str]:
        return [
            r["term"] for r in self.df.filter(cond).select("term").collect()
        ]

    def expand_prefix(self, prefix: str) -> List[str]:
        return self._terms(F.col("term").startswith(prefix))

    def expand_regex(self, pattern: str) -> List[str]:
        # Java regex; fullmatch anchoring. A literal prefix becomes a
        # parquet-prunable StartsWith; with no prefix, a literal
        # suffix at least short-circuits cheaply before the regex.
        from lucille_spark.plans import (
            regex_literal_prefix,
            regex_literal_suffix,
        )

        cond = F.col("term").rlike(f"^(?:{pattern})$")
        pre = regex_literal_prefix(pattern)
        if pre:
            cond = F.col("term").startswith(pre) & cond
        else:
            sfx = regex_literal_suffix(pattern)
            if sfx:
                cond = F.col("term").endswith(sfx) & cond
            else:
                # no-literal pattern (*e*): required-substring
                # contains() short-circuits run before the regex
                # engine per row (plain memmem vs NFA; same exactness)
                from lucille_spark.plans import regex_required_substrings

                for s in regex_required_substrings(pattern):
                    cond = F.col("term").contains(s) & cond
        return self._terms(cond)

    def expand_range(self, lower, upper, lower_inc, upper_inc) -> List[str]:
        cond = F.lit(True)
        if lower is not None:
            c = F.col("term") >= lower if lower_inc else F.col("term") > lower
            cond = cond & c
        if upper is not None:
            c = F.col("term") <= upper if upper_inc else F.col("term") < upper
            cond = cond & c
        return self._terms(cond)

    def expand_fuzzy(
        self, term: str, max_edits: int, transpositions: bool = False
    ) -> List[str]:
        band = F.abs(F.length("term") - F.lit(len(term))) <= max_edits
        if not transpositions:
            cond = band & (
                F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
            )
            return self._terms(cond)
        # OSA has no JVM builtin. Since a transposition is two plain
        # Levenshtein ops, OSA(a,b) <= e implies levenshtein <= 2e —
        # prefilter with that (pushdown-friendly) and verify the exact
        # OSA distance on the (small) collected candidate set.
        cond = band & (
            F.levenshtein(F.col("term"), F.lit(term)) <= 2 * max_edits
        )
        cands = np.array(self._terms(cond), dtype=object)
        if cands.size == 0:
            return []
        mask = _lev_batch(cands, term, max_edits, transpositions=True)
        return cands[mask].tolist()


class FileTermIndex:
    """Per-file (term_min, term_max) ranges (file_index.json, written
    by the build's footer-scan stage). `select` returns the subset of
    files whose term range may contain any requested term — strictly
    conservative: unknown ranges and all interval-bound comparisons
    treat bounds as inclusive, so pruning can only drop files that
    provably contain none of the query's terms."""

    def __init__(self, entries: Sequence[Sequence]):
        self.entries = [tuple(e) for e in entries]

    def select(self, exact: Sequence[str], intervals: Sequence = ()):
        """-> list of file paths to scan (possibly empty)."""
        out = []
        for path, tmin, tmax in self.entries:
            if tmin is None or tmax is None:
                out.append(path)  # no stats -> never pruned
                continue
            hit = any(tmin <= t <= tmax for t in exact)
            if not hit:
                for lo, hi in intervals:
                    if (lo is None or lo <= tmax) and (
                        hi is None or hi >= tmin
                    ):
                        hit = True
                        break
            if hit:
                out.append(path)
        return out


def check_layout(stats: dict, index_dir: str) -> None:
    """Raise ValueError unless `stats` (an index's stats.json) names
    the on-disk format and posting-block codec this reader decodes."""
    from lucille_spark.index.builder import BLOCK_CODEC, INDEX_FORMAT

    fmt = int(stats.get("format", 0))
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index at {index_dir} has on-disk format {fmt}; this "
            f"reader requires format {INDEX_FORMAT} — rebuild the "
            "index (or purge/compact it with the current builder)"
        )
    codec = stats.get("codec", BLOCK_CODEC)
    if codec != BLOCK_CODEC:
        raise ValueError(
            f"index at {index_dir} has posting-block codec {codec!r}; "
            f"this reader decodes only {BLOCK_CODEC!r} — rebuild the index"
        )


class SparkIndex:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        driver_dict_max_terms: int = 2_000_000,
        cache: bool = False,
        similarity: str = "bm25",
        field_similarity: "Optional[Dict[str, str]]" = None,
    ):
        """`cache=True` pins the posting tables in Spark's in-memory
        columnar cache — the right call for query serving (repeated
        scans); leave False for one-shot batch jobs. `similarity`
        selects the ranking formula ("bm25" | "tfidf" | "lmd" — see
        scoring.py); `field_similarity` overrides it per indexed
        field (Lucene's per-field Similarity). Both are read-time
        choices, the index layout is identical."""
        self.spark = spark
        self.dir = index_dir
        self.stats = json.loads(
            fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
        )
        check_layout(self.stats, index_dir)
        self.terms_df = spark.read.parquet(os.path.join(index_dir, "terms"))
        self.doclens = spark.read.parquet(os.path.join(index_dir, "doclens"))
        self.flat = spark.read.parquet(
            os.path.join(index_dir, "postings_flat")
        )
        self.segments_path = os.path.join(index_dir, "segments")
        self._cached_segments = None
        self._flat_path = os.path.join(index_dir, "postings_flat")
        self._cache = cache
        self.deletes_path = os.path.join(index_dir, "deletes")
        self._deleted_df = None
        self._deleted_ids = None
        self._deleted_n = None
        self._deletes_checked = False
        # bumped by refresh_deletes(); executor plan caches key on it
        self.plan_version = 0
        self._pruned_cache = LRUCache(
            self.PRUNED_CACHE_MAX, on_evict=self._drop_view
        )
        fidx_path = os.path.join(index_dir, "file_index.json")
        self._fidx = None
        if fsio.exists(fidx_path, spark):
            raw = json.loads(fsio.read_text(fidx_path, spark))
            self._fidx = {
                k: FileTermIndex(v) for k, v in raw.items()
            }
        if cache:
            self.flat = self.flat.cache()
            self.doclens = self.doclens.cache()
            self._cached_segments = spark.read.parquet(
                self.segments_path
            ).cache()
        if self.stats["n_terms"] <= driver_dict_max_terms:
            pdf = self.terms_df.select(
                "term", "term_id", "df", "cf"
            ).toPandas()
            self.dictionary: P.TermDictionary = DriverDictionary(
                pdf["term"].to_numpy(dtype=object),
                pdf["term_id"].to_numpy(dtype=np.int64),
                pdf["df"].to_numpy(dtype=np.int64),
                pdf["cf"].to_numpy(dtype=np.int64),
            )
        else:
            self.dictionary = PushdownDictionary(self.terms_df)
        self.planner = P.Planner(
            self.dictionary,
            self.stats["n_docs"],
            meta_fields=self.stats.get("meta_cols", []),
            analyzer=self.stats.get("analyzer", "standard"),
            indexed_fields=self.stats.get("indexed_fields", {}),
            meta_types=self.stats.get("meta_types", {}),
            similarity=similarity,
            total_tokens=float(self.stats["n_docs"])
            * float(self.stats["avg_dl"]),
            field_similarity=field_similarity,
        )

    @property
    def segments(self) -> DataFrame:
        if self._cached_segments is None:
            # build the (immutable) DataFrame once — a fresh
            # spark.read.parquet costs a ~90 ms driver-side listing +
            # schema-inference JVM call per access, which dominated
            # cold single-query latency on the WAND path
            self._cached_segments = self.spark.read.parquet(
                self.segments_path
            )
        return self._cached_segments

    def uncached(self, table: str) -> DataFrame:
        """The `segments` or `doclens` table as a DataFrame that does
        not scan through Spark's cache, for a one-time collect: the
        reader's own when it was opened with cache=False. With
        cache=True a plain re-read would match the pinned plan, and
        collecting it would materialize the cache; the explicit
        (default) mergeSchema option makes the read a different
        relation, so it scans the files."""
        if self._cache:
            return self.spark.read.option("mergeSchema", "false").parquet(
                os.path.join(self.dir, table)
            )
        return self.segments if table == "segments" else self.doclens

    # -- tombstone deletes -------------------------------------------
    # `deletes/` (written by index.maintenance.delete_docs) holds
    # doc_ids removed logically: both executors exclude them from
    # results while df/idf/avgdl stay as built (Lucene's
    # deleted-but-not-merged semantics) until maintenance.purge_deletes
    # rewrites the index physically. The set is loaded once per
    # reader; call refresh_deletes() after deleting through a live
    # reader.

    @property
    def deleted_df(self) -> "DataFrame | None":
        """DataFrame(doc_id) of tombstoned docs, or None. Duplicates
        possible (append-mode writes) — fine for anti-joins."""
        self._load_deletes()
        return self._deleted_df

    @property
    def deleted_ids(self) -> "np.ndarray | None":
        """Sorted unique np.int64 array of tombstoned doc ids, or
        None. Shipped into the WAND shard kernels only while the set
        is small (exec_wand.TOMBSTONE_SHIP_MAX); larger sets stay
        distributed via a doclens `_del`-flag join, so serving never
        serializes a multi-MB closure per task."""
        self._load_deletes()
        if self._deleted_ids is None and self._deleted_df is not None:
            pdf = self._deleted_df.toPandas()
            self._deleted_ids = np.unique(
                pdf["doc_id"].to_numpy(dtype=np.int64)
            )
        if self._deleted_ids is not None and self._deleted_ids.size == 0:
            return None  # empty delete set == no deletes
        return self._deleted_ids

    @property
    def deleted_count(self) -> int:
        """Distinct tombstone count WITHOUT materializing ids to the
        driver (one parquet count job, cached) — lets executors pick
        the closure-shipped fast path vs the distributed-join path
        (exec_wand.TOMBSTONE_SHIP_MAX) before touching deleted_ids."""
        self._load_deletes()
        if self._deleted_df is None:
            return 0
        if self._deleted_n is None:
            if self._deleted_ids is not None:
                self._deleted_n = int(self._deleted_ids.size)
            else:
                self._deleted_n = (
                    self._deleted_df.select("doc_id").distinct().count()
                )
        return self._deleted_n

    def _load_deletes(self) -> None:
        if self._deletes_checked:
            return
        self._deletes_checked = True
        if fsio.exists(self.deletes_path, self.spark):
            self._deleted_df = self.spark.read.parquet(
                self.deletes_path
            ).select("doc_id")

    def refresh_deletes(self) -> None:
        """Re-read the tombstone set (after delete_docs on a live
        reader). Bumps `plan_version` so executor-level plan caches
        drop plans that baked the old delete set.

        Invalidation contract: `plan_version` is the ONE token a
        live reader exposes for "cached plans over this index are
        stale". Logical deletes are the only in-place mutation a
        live reader supports — physical maintenance (purge_deletes,
        force_merge, split/reindex) writes a NEW index directory
        (maintenance.py raises if out_dir == index_dir), so a live
        reader can never silently observe rewritten postings; it
        keeps serving its own directory until reopened on the new
        one. tests/test_plan_cache covers the delete path."""
        if self._deleted_df is not None:
            self._drop_view(self._deleted_df)  # as for evicted frames
        self._deleted_df = None
        self._deleted_ids = None
        self._deleted_n = None
        self._deletes_checked = False
        self._pruned_cache.clear()
        self.plan_version = getattr(self, "plan_version", 0) + 1

    # -- file-level term pruning -----------------------------------
    # The posting files are term-SORTED and split into term-contiguous
    # chunks at build, so a query's terms intersect O(num_shards)
    # files. Selection happens driver-side from file_index.json BEFORE
    # the scan — at web scale this avoids even reading the footers of
    # irrelevant files. With cache=True the tables are pinned in
    # memory, which supersedes file pruning (a fresh per-file read
    # would bypass the cache), so pruning is skipped.

    #: bounded cache of per-file-set pruned DataFrames. Building a
    #: DataFrame from a file list costs a driver-side JVM call that
    #: lists the files and infers the schema (~90 ms measured — the
    #: single largest piece of cold single-query latency on the WAND
    #: path). The schema is already known (it's `full.schema`) and
    #: the same file subset recurs across queries (hot terms live in
    #: the same shard files), so cache the immutable DataFrame.
    PRUNED_CACHE_MAX = 64

    def _pruned(
        self, full: DataFrame, key: str, base_path: str, exact, intervals
    ) -> DataFrame:
        if self._cache or self._fidx is None or key not in self._fidx:
            return full
        fidx = self._fidx[key]
        sel = fidx.select(list(exact), list(intervals))
        if len(sel) >= len(fidx.entries):
            return full
        ck = (key, tuple(sel))
        hit = self._pruned_cache.get(ck)
        if hit is not None:
            return hit
        if not sel:
            # cached like any file set: a fresh empty frame per call
            # would register a fresh temp view per call
            df = self.spark.createDataFrame([], full.schema)
        else:
            df = (
                self.spark.read.schema(full.schema)
                .option("basePath", base_path)
                .parquet(*sel)
            )
        return self._pruned_cache.put(ck, df)

    def _drop_view(self, df: DataFrame) -> None:
        """on_evict of the pruned-frame cache (and, in refresh_deletes,
        for the replaced tombstone frame): drop the temp view
        exec_df._view registered for the frame, so the catalog holds
        at most PRUNED_CACHE_MAX pruned views. Safe because a view is
        read only while a plan is being analyzed: a DataFrame that
        spark.sql already built keeps its analyzed plan (and collects
        the same rows) after the drop, and the frame a get/put has
        just handed to exec_df._views is the most recently used entry,
        which is evicted only after PRUNED_CACHE_MAX newer distinct
        file sets are inserted. refresh_deletes is the one exception:
        a search on the same reader whose SQL is being analyzed at
        that instant can lose its view. The name comes off
        the frame first, so a holder that registers it again gets a
        live view."""
        name = getattr(df, "_lucille_view", None)
        if name is not None:
            del df._lucille_view
            self.spark.catalog.dropTempView(name)

    def flat_for(self, exact, intervals=()) -> DataFrame:
        return self._pruned(
            self.flat, "flat", self._flat_path, exact, intervals
        )

    def segments_for(self, exact, intervals=()) -> DataFrame:
        return self._pruned(
            self.segments, "segments", self.segments_path, exact, intervals
        )

    def plan(
        self,
        query,
        similarity: "str | None" = None,
        synonyms=None,
    ) -> P.PNode:
        if isinstance(query, P.PNode):
            return query  # pre-built physical tree (e.g. PDisMax)
        if isinstance(query, str):
            query = parse(query)
        assert isinstance(query, ast.Query)
        planner = self.planner
        if similarity is not None and similarity != planner.similarity:
            planner = planner.with_similarity(similarity)
        if synonyms:
            planner = planner.with_synonyms(synonyms)
        return planner.plan(query)

    def sample_terms(self, n: int = 2) -> List[str]:
        """A few plain (letters/digits only) dictionary terms — used
        by executor warmup() to compile representative plans against
        real postings without quoting/escaping concerns."""
        import re as _re

        if isinstance(self.dictionary, DriverDictionary):
            pool = self.dictionary.terms[: 200]
        else:
            pool = [
                r["term"]
                for r in self.terms_df.select("term").limit(200).collect()
            ]
        out = [t for t in pool if _re.fullmatch(r"[a-z0-9]+", str(t))]
        return [str(t) for t in out[:n]]

    def term_ids(self, terms: Sequence[str]) -> Dict[str, int]:
        if isinstance(self.dictionary, DriverDictionary):
            return self.dictionary.term_id_map(terms)
        rows = (
            self.terms_df.filter(F.col("term").isin(list(terms)))
            .select("term", "term_id")
            .collect()
        )
        return {r["term"]: int(r["term_id"]) for r in rows}
