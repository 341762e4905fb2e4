"""Incremental indexing via Structured Streaming.

Lambda-style design suited to the doc-sharded layout:

  * **Ingest** (`IncrementalIndexer`): a file-source stream over a
    docs directory; each micro-batch builds a self-contained *delta
    index* (doclens + flat postings + terms + stats) under
    ``index_dir/delta_<batch_id>`` with doc_ids offset past every
    previous batch (offset persisted in ``ingest_meta.json``;
    foreachBatch + checkpointLocation give exactly-once batches, and
    the per-delta build reuses the batch builder's resumable
    stages).
  * **Serve** (`open_multi`): a read-only view over all deltas —
    flat postings / doclens are parquet unions, global stats are the
    doc-count-weighted merge, the term dictionary is re-aggregated
    (sum of per-delta dfs). BOTH executors work unchanged on this
    view: the DataFrame executor reads the flat union, and the
    WAND/segment executor reads the segments union with per-delta
    shard-number offsets (shards stay disjoint doc ranges, which is
    all the per-shard kernel assumes). BM25 is rank-identical to the
    compacted index because scores depend only on plan-time GLOBAL
    stats (merged df -> idf, merged avg_dl) plus per-doc tf/dl, which
    the per-delta segment blocks already store.
  * **Compact** (`compact`): merges all deltas into one ordinary
    index — re-shards flat/doclens by the global doc space, then
    runs the batch builder's dictionary/stats/segment stages on the
    merged postings, producing a fully WAND-capable index.

No watermarks/stateful operators are needed: indexing is
append-only per batch; dedup/late-data policy belongs to the
upstream docs pipeline.
"""

from __future__ import annotations

import json
import math
import os
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucille_spark.index import fsio
from lucille_spark.index.builder import BuildConfig, IndexBuilder, Manifest
from lucille_spark.index.reader import DriverDictionary, SparkIndex


class IncrementalIndexer:
    def __init__(
        self,
        index_dir: str,
        content_col: str = "content",
        order_cols: Sequence[str] = ("repo", "path", "commit"),
        meta_cols: Optional[Sequence[str]] = None,
        config: Optional[BuildConfig] = None,
    ):
        self.index_dir = index_dir
        self.content_col = content_col
        self.order_cols = tuple(order_cols)
        self.meta_cols = meta_cols
        self.cfg = config or BuildConfig(num_shards=4)
        self._meta_path = os.path.join(index_dir, "ingest_meta.json")

    # -- offset bookkeeping (fsio: works on hdfs://s3a:// outputs
    # like the batch builder's manifest) ---------------------------
    def _load_meta(self, spark=None) -> dict:
        if fsio.exists(self._meta_path, spark):
            return json.loads(fsio.read_text(self._meta_path, spark))
        return {"next_doc_id": 0, "batches": []}

    def _save_meta(self, meta: dict, spark=None) -> None:
        fsio.write_text(self._meta_path, json.dumps(meta), spark)

    # -- foreachBatch sink ----------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        spark = batch_df.sparkSession
        meta = self._load_meta(spark)
        if any(b["batch_id"] == batch_id for b in meta["batches"]):
            return  # replay after restart: already ingested
        offset = meta["next_doc_id"]
        delta_dir = os.path.join(self.index_dir, f"delta_{batch_id:06d}")
        from lucille_spark.index.builder import assign_doc_ids

        docs = assign_doc_ids(batch_df, self.order_cols).withColumn(
            "doc_id", F.col("doc_id") + F.lit(offset)
        )
        IndexBuilder(self.cfg).build(
            docs,
            delta_dir,
            content_col=self.content_col,
            id_col="doc_id",
            meta_cols=self.meta_cols,
        )
        meta["next_doc_id"] = offset + n
        meta["batches"].append(
            {"batch_id": batch_id, "n_docs": n, "offset": offset}
        )
        self._save_meta(meta, spark)

    # -- stream wiring --------------------------------------------
    def start(
        self,
        spark: SparkSession,
        input_path: str,
        schema: str,
        available_now: bool = True,
    ):
        """Start the ingest stream over a parquet docs directory.
        `available_now=True` drains what's there and stops (batch
        refresh); False runs continuously."""
        stream = spark.readStream.schema(schema).parquet(input_path)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.index_dir, "_checkpoint"),
            )
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def delta_dirs(self, spark=None) -> List[str]:
        meta = self._load_meta(spark)
        return [
            os.path.join(self.index_dir, f"delta_{b['batch_id']:06d}")
            for b in sorted(meta["batches"], key=lambda b: b["batch_id"])
        ]


def _union_parquet(
    spark: SparkSession,
    paths: Sequence[str],
    shard_offsets: Optional[Sequence[int]] = None,
    doc_offsets: Optional[Sequence[int]] = None,
    doc_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Union of independently-read parquet dirs (each delta has its
    own shard=N partition tree, so a single multi-path read would
    trip Spark's partition discovery). With `shard_offsets`, delta i's
    shard numbers are shifted by offsets[i] so shards from different
    deltas never collide — each remains a contiguous doc-id range,
    the only invariant the per-shard WAND kernel relies on.
    With `doc_offsets`, part i's doc-id columns (`doc_cols`, where
    present) are shifted too — this is what lets INDEPENDENTLY built
    indexes (each with ids 0..n-1) union into one disjoint global id
    space for alias serving; the segment blocks need only their
    doc_id_base/doc_id_max columns rebased because posting ids are
    stored as deltas from the base."""
    dfs = [spark.read.parquet(p) for p in paths]
    if shard_offsets is not None:
        dfs = [
            d.withColumn(
                "shard", (F.col("shard") + F.lit(int(off))).cast("int")
            )
            for d, off in zip(dfs, shard_offsets)
        ]
    if doc_offsets is not None:
        shifted = []
        for d, off in zip(dfs, doc_offsets):
            if off:
                for c in doc_cols:
                    if c in d.columns:
                        d = d.withColumn(
                            c, (F.col(c) + F.lit(int(off))).cast("long")
                        )
            shifted.append(d)
        dfs = shifted
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


_SHARD_STRIDE = 1_000_000  # per-delta shard-number namespace


class MultiIndex:
    """Read-only union view over delta indexes; duck-types the parts
    of SparkIndex BOTH executors use (spark, stats, flat, doclens,
    segments, dictionary, planner, plan). Delta i's shards are
    renumbered into [i*_SHARD_STRIDE, ...) so the doclens/segments
    shard keys stay consistent and disjoint across deltas."""

    def __init__(
        self,
        spark: SparkSession,
        delta_dirs: Sequence[str],
        root_dir: Optional[str] = None,
        similarity: str = "bm25",
        doc_offsets: Optional[Sequence[int]] = None,
        extra_delete_specs: Optional[Sequence] = None,
        pinned_delete_files: Optional[Sequence] = None,
    ):
        import numpy as np

        from lucille_spark import ast, parse
        from lucille_spark import plans as P

        assert delta_dirs, "no deltas ingested yet"
        self.spark = spark
        # tombstones (index.maintenance.delete_docs): the stream ROOT
        # carries global-doc-id deletes (the update flow: tombstone
        # the old revision, re-ingest the new one as a delta); each
        # delta may also carry its own. Union them — both executors
        # read deleted_df/deleted_ids exactly as on SparkIndex.
        offs = list(doc_offsets) if doc_offsets else [0] * len(delta_dirs)
        assert len(offs) == len(delta_dirs)
        self._doc_offsets = offs
        # (path, doc-offset) pairs: per-delta deletes carry LOCAL ids
        # when the parts were built independently (alias mode), so
        # they shift with their part; root deletes are global.
        # pinned_delete_files (PIT mode): explicit (files, offset)
        # pairs REPLACE directory discovery — the view reads exactly
        # the delete part-files that existed at open time, so
        # tombstones appended later never leak in.
        if pinned_delete_files is not None:
            self._delete_specs = [
                (tuple(files), off)
                for files, off in pinned_delete_files
                if files
            ]
        else:
            self._delete_specs = self._discover_delete_specs(
                spark, delta_dirs, offs, root_dir, extra_delete_specs
            )
        self._delete_paths = [p for p, _ in self._delete_specs]
        self._deleted_df = None
        self._deleted_ids = None
        self._deleted_n = None
        stats = []
        for d in delta_dirs:
            stats.append(
                json.loads(
                    fsio.read_text(os.path.join(d, "stats.json"), spark)
                )
            )
        n = sum(s["n_docs"] for s in stats)
        avgdl = (
            sum(s["avg_dl"] * s["n_docs"] for s in stats) / n if n else 1.0
        )
        self.stats = {
            "n_docs": n,
            "avg_dl": avgdl,
            "meta_cols": stats[0].get("meta_cols", []),
            "n_terms": None,
        }
        # per-part doc-id ranges under the open_alias rebasing
        # contract (part i serves [off_i, off_i + n_docs_i)); only
        # meaningful when offsets are real rebases of local ids —
        # i.e. always through open_alias, which is what
        # Searcher(indices_boost=...) resolves against
        self.part_dirs = list(delta_dirs)
        self.part_ranges = [
            (d, off, off + int(s["n_docs"]))
            for d, off, s in zip(delta_dirs, offs, stats)
        ]
        offsets = [i * _SHARD_STRIDE for i in range(len(delta_dirs))]
        self.flat = _union_parquet(
            spark,
            [os.path.join(d, "postings_flat") for d in delta_dirs],
            doc_offsets=offs,
        )
        self.doclens = _union_parquet(
            spark,
            [os.path.join(d, "doclens") for d in delta_dirs],
            shard_offsets=offsets,
            doc_offsets=offs,
        )
        self.segments = _union_parquet(
            spark,
            [os.path.join(d, "segments") for d in delta_dirs],
            shard_offsets=offsets,
            doc_offsets=offs,
            doc_cols=("doc_id_base", "doc_id_max"),
        )
        terms = (
            _union_parquet(
                spark, [os.path.join(d, "terms") for d in delta_dirs]
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .orderBy("term")
        )
        pdf = terms.toPandas()
        self.stats["n_terms"] = len(pdf)
        self.dictionary = DriverDictionary(
            pdf["term"].to_numpy(dtype=object),
            np.arange(len(pdf), dtype=np.int64),
            pdf["df"].to_numpy(dtype=np.int64),
            pdf["cf"].to_numpy(dtype=np.int64),
        )
        self.planner = P.Planner(
            self.dictionary,
            self.stats["n_docs"],
            meta_fields=self.stats["meta_cols"],
            meta_types=stats[0].get("meta_types", {}),
            analyzer=stats[0].get("analyzer", "standard"),
            similarity=similarity,
            total_tokens=float(n) * float(avgdl),
        )
        self._parse, self._ast = parse, ast

    @staticmethod
    def _discover_delete_specs(
        spark, delta_dirs, offs, root_dir, extra_delete_specs
    ):
        return [
            (p, off)
            for p, off in zip(
                [os.path.join(d, "deletes") for d in delta_dirs], offs
            )
            if fsio.exists(p, spark)
        ] + (
            [(os.path.join(root_dir, "deletes"), 0)]
            if root_dir
            and fsio.exists(os.path.join(root_dir, "deletes"), spark)
            else []
        ) + (
            # additional (deletes-path, offset) pairs: the rollover
            # alias has SEVERAL roots (one per generation), each
            # carrying generation-local delete ids shifted by that
            # generation's doc base
            [
                (p, off)
                for p, off in (extra_delete_specs or [])
                if fsio.exists(p, spark)
            ]
        )

    def plan(self, query, similarity=None, synonyms=None):
        if isinstance(query, str):
            query = self._parse(query)
        planner = self.planner
        if similarity is not None and similarity != planner.similarity:
            planner = planner.with_similarity(similarity)
        if synonyms:
            planner = planner.with_synonyms(synonyms)
        return planner.plan(query)

    @property
    def deleted_df(self):
        if self._deleted_df is None and self._delete_specs:
            parts = []
            for p, off in self._delete_specs:
                # a spec path may be one directory (live view) or a
                # pinned tuple of part files (PIT view)
                paths = list(p) if isinstance(p, (list, tuple)) else [p]
                d = self.spark.read.parquet(*paths).select("doc_id")
                if off:
                    d = d.select(
                        (F.col("doc_id") + F.lit(int(off)))
                        .cast("long")
                        .alias("doc_id")
                    )
                parts.append(d)
            out = parts[0]
            for d in parts[1:]:
                out = out.unionByName(d)
            self._deleted_df = out
        return self._deleted_df

    @property
    def deleted_ids(self):
        import numpy as np

        if self._deleted_ids is None and self.deleted_df is not None:
            pdf = self.deleted_df.toPandas()
            self._deleted_ids = np.unique(
                pdf["doc_id"].to_numpy(dtype=np.int64)
            )
        if self._deleted_ids is not None and self._deleted_ids.size == 0:
            return None  # empty delete set == no deletes
        return self._deleted_ids

    @property
    def deleted_count(self) -> int:
        """Distinct tombstone count without pulling ids to the driver
        (mirrors SparkIndex.deleted_count)."""
        if self.deleted_df is None:
            return 0
        if self._deleted_n is None:
            if self._deleted_ids is not None:
                self._deleted_n = int(self._deleted_ids.size)
            else:
                self._deleted_n = (
                    self.deleted_df.select("doc_id").distinct().count()
                )
        return self._deleted_n


def open_multi(
    spark: SparkSession, index_dir: str, similarity: str = "bm25"
) -> MultiIndex:
    ixr = IncrementalIndexer(index_dir)
    return MultiIndex(
        spark,
        ixr.delta_dirs(spark),
        root_dir=index_dir,
        similarity=similarity,
    )


class PointInTime:
    """ES point-in-time (PIT) reader over an incremental index: a
    FROZEN view pinned at open — the delta list AND the exact delete
    part-files that existed then. Deltas ingested later, upserts, and
    tombstones appended later are all invisible; paging with
    search_after through a PIT is therefore consistent under
    concurrent writes, which is the entire point of ES's
    `POST /index/_pit` (the non-PIT view re-resolves per request).

    Purely driver-side metadata — nothing is copied or locked. Like
    ES, a PIT survives only as long as the underlying files do:
    compaction/purge that REMOVES delta dirs invalidates it
    (`keep_alive` is advisory metadata for the caller's reaper, not
    enforcement — same contract as an ES keep-alive extension).
    """

    def __init__(self, spark, index_dir, similarity="bm25"):
        import hashlib as _h

        ixr = IncrementalIndexer(index_dir)
        deltas = ixr.delta_dirs(spark)
        pinned = [
            (fsio.list_files(os.path.join(d, "deletes"), spark), 0)
            for d in deltas
        ] + [(fsio.list_files(os.path.join(index_dir, "deletes"), spark), 0)]
        self.index_dir = index_dir
        self.delta_dirs = list(deltas)
        self.pinned_delete_files = [
            (tuple(files), off) for files, off in pinned if files
        ]
        self.id = _h.md5(
            repr((self.delta_dirs, self.pinned_delete_files)).encode()
        ).hexdigest()
        self.index = MultiIndex(
            spark,
            deltas,
            similarity=similarity,
            pinned_delete_files=self.pinned_delete_files,
        )


def open_pit(
    spark: SparkSession, index_dir: str, similarity: str = "bm25"
) -> PointInTime:
    """Open a point-in-time view (see PointInTime). Serve it through
    either executor: `DataFrameExecutor(pit.index)` /
    `WandExecutor(pit.index)`."""
    return PointInTime(spark, index_dir, similarity=similarity)


def upsert_batch(
    spark: SparkSession,
    index_dir: str,
    docs_df: DataFrame,
    key_cols: Sequence[str],
    content_col: str = "content",
    meta_cols: Optional[Sequence[str]] = None,
    config: Optional[BuildConfig] = None,
) -> dict:
    """Update-or-insert by EXTERNAL key (repo/path/...): tombstone
    every live doc whose key matches an incoming row (across the
    base delta chain), then ingest the incoming rows as a NEW delta
    with fresh doc_ids. `open_multi` serving reflects the update
    immediately; `maybe_compact` folds the tombstones away on its
    normal policy.

    Requires the index to have been built with the key columns as
    meta_cols (they are how old revisions are FOUND). The key lookup
    is a broadcast semi-join of the small incoming key set against
    doclens — no corpus shuffle; the delta build is the ordinary
    zero-shuffle incremental build. This is the Lucene
    updateDocument(term, doc) semantics at cluster scale.
    Returns {"tombstoned": n, "batch_id": id, "n_docs": n_new}."""
    key_cols = list(key_cols)
    ixr = IncrementalIndexer(
        index_dir,
        content_col=content_col,
        order_cols=tuple(key_cols),
        meta_cols=list(meta_cols) if meta_cols else key_cols,
        config=config,
    )
    meta = ixr._load_meta(spark)
    n_tomb = 0
    if meta["batches"]:
        multi = MultiIndex(
            spark, ixr.delta_dirs(spark), root_dir=index_dir
        )
        missing = [c for c in key_cols if c not in multi.doclens.columns]
        if missing:
            raise ValueError(
                f"index doclens lack key column(s) {missing}; build "
                "with meta_cols including the upsert key"
            )
        keys = docs_df.select(*key_cols).distinct()
        old = multi.doclens.join(
            F.broadcast(keys), key_cols, "left_semi"
        ).select("doc_id")
        from lucille_spark.index import maintenance

        n_tomb = maintenance.delete_docs(spark, index_dir, old)
    next_id = (
        max((b["batch_id"] for b in meta["batches"]), default=-1) + 1
    )
    n_new = docs_df.count()
    ixr.process_batch(docs_df, next_id)
    return {"tombstoned": n_tomb, "batch_id": next_id, "n_docs": n_new}


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    query,
    transform,
    key_cols: Sequence[str],
    content_col: str = "content",
    meta_cols: Optional[Sequence[str]] = None,
    config: Optional[BuildConfig] = None,
) -> dict:
    """ES `_update_by_query`: apply `transform` to every SOURCE row
    whose indexed doc matches the Lucene-syntax `query`, and write
    the transformed rows back through `upsert_batch` (old revisions
    tombstoned, new revisions a fresh delta) — the index-level
    redaction / bulk-retag primitive (PII scrub of every doc
    matching `email`, license retag of a repo, ...).

    `transform` is a dict {col: Column} applied with withColumn
    (the "painless script" seat — whole-stage codegen, no UDF), or a
    callable(DataFrame) -> DataFrame for arbitrary rewrites.

    Scale: the match set resolves on the index (query-sized), its
    keys broadcast-semi-join the source table (one corpus scan, no
    shuffle), and the rewrite rides the ordinary zero-shuffle delta
    ingest; nothing re-tokenizes except the matched rows. Returns
    the upsert_batch dict + {"matched": n_keys}.

    The transform MUST NOT rewrite the key columns — upsert
    tombstones old revisions by the NEW rows' keys, so a key change
    would leave the old revision live alongside the new one (use
    delete_by_query + a plain ingest for re-keying)."""
    from lucille_spark.exec_df import DataFrameExecutor

    key_cols = list(key_cols)
    mi = open_multi(spark, index_dir)
    missing = [c for c in key_cols if c not in mi.doclens.columns]
    if missing:
        raise ValueError(
            f"index doclens lack key column(s) {missing}; build "
            "with meta_cols including the update key"
        )
    matched = (
        DataFrameExecutor(mi).search(query, k=None).select("doc_id")
    )
    keys = (
        mi.doclens.join(matched, "doc_id")
        .select(*key_cols)
        .distinct()
        .persist()
    )
    n_keys = keys.count()
    if n_keys == 0:
        keys.unpersist()
        return {
            "matched": 0, "tombstoned": 0,
            "batch_id": None, "n_docs": 0,
        }
    rows = docs.join(F.broadcast(keys), key_cols, "left_semi")
    if callable(transform):
        new_rows = transform(rows)
    else:
        new_rows = rows
        for c, col in dict(transform).items():
            new_rows = new_rows.withColumn(c, col)
    out = upsert_batch(
        spark, index_dir, new_rows, key_cols,
        content_col=content_col, meta_cols=meta_cols, config=config,
    )
    keys.unpersist()
    out["matched"] = n_keys
    return out


def open_alias(
    spark: SparkSession,
    index_dirs: Sequence[str],
    similarity: str = "bm25",
) -> MultiIndex:
    """One logical index over several INDEPENDENTLY built physical
    indexes (rolling daily builds, per-region shards — the ES alias
    pattern). Each part keeps its own layout; doc ids are rebased
    into disjoint ranges (prefix sums of n_docs — a stats.json read
    per part, no data pass: posting blocks store ids as deltas from
    a rebased base column). df/cf/avgdl merge into one global stats
    view, so BM25 ranks exactly as if the parts had been built as
    one corpus."""
    offs, total = [], 0
    for d in index_dirs:
        offs.append(total)
        st = json.loads(
            fsio.read_text(os.path.join(d, "stats.json"), spark)
        )
        total += int(st["n_docs"])
    return MultiIndex(
        spark, list(index_dirs), similarity=similarity, doc_offsets=offs
    )


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    max_deltas: int = 8,
    config: Optional[BuildConfig] = None,
    max_tombstone_ratio: Optional[float] = 0.2,
) -> Optional[dict]:
    """Tiered-merge policy hook: compact iff (a) the delta count has
    reached `max_deltas` — each delta adds a scan leg + shard
    namespace to the serving union, so read amplification grows
    linearly with delta count (the classic LSM trade) — OR (b) the
    tombstone ratio (distinct deleted ids / docs across deltas) has
    reached `max_tombstone_ratio`: compaction applies deletes
    physically (merge-applies-deletes), so a delete-heavy index stops
    paying per-query tombstone filtering and its stats stop lying
    about corpus size. Call after each ingest/delete cycle; returns
    the compacted stats dict (with `compact_reason`) or None when
    below both thresholds. `max_tombstone_ratio=None` disables the
    purge trigger."""
    deltas = IncrementalIndexer(index_dir).delta_dirs(spark)
    if not deltas:
        return None
    reason = None
    if len(deltas) >= max_deltas:
        reason = "deltas"
    elif max_tombstone_ratio is not None:
        ratio = tombstone_ratio(spark, index_dir, deltas)
        if ratio >= max_tombstone_ratio:
            reason = "tombstones"
    if reason is None:
        return None
    stats = compact(spark, index_dir, out_dir, config)
    stats = dict(stats)
    stats["compact_reason"] = reason
    return stats


def tombstone_ratio(
    spark: SparkSession,
    index_dir: str,
    deltas: Optional[Sequence[str]] = None,
) -> float:
    """Distinct tombstoned ids / total ingested docs across the
    stream's deltas (0.0 when no deletes). One tiny count job over
    the deletes parquet; doc totals come from the delta stats.json
    files (no doclens scan)."""
    if deltas is None:
        deltas = IncrementalIndexer(index_dir).delta_dirs(spark)
    n_docs = 0
    for d in deltas:
        st = json.loads(
            fsio.read_text(os.path.join(d, "stats.json"), spark)
        )
        n_docs += int(st["n_docs"])
    if n_docs == 0:
        return 0.0
    del_paths = [
        p
        for p in [os.path.join(index_dir, "deletes")]
        + [os.path.join(d, "deletes") for d in deltas]
        if fsio.exists(p, spark)
    ]
    if not del_paths:
        return 0.0
    n_del = (
        _union_parquet(spark, del_paths)
        .select("doc_id")
        .distinct()
        .count()
    )
    return n_del / n_docs


def _config_from_delta(spark: SparkSession, delta_dir: str) -> BuildConfig:
    """BuildConfig matching how a delta was actually built (analyzer /
    block_size / num_shards from its stats.json) so a
    config-less compaction can't silently stamp defaults that diverge
    from the index-time analysis (e.g. analyzer='standard' over
    deltas built with 'code')."""
    stats = json.loads(
        fsio.read_text(os.path.join(delta_dir, "stats.json"), spark)
    )
    return BuildConfig(
        num_shards=int(stats.get("num_shards", BuildConfig.num_shards)),
        block_size=int(stats.get("block_size", BuildConfig.block_size)),
        analyzer=stats.get("analyzer", "standard"),
    )


def compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    config: Optional[BuildConfig] = None,
) -> dict:
    """Merge all deltas into one ordinary (WAND-capable) index:
    re-shard flat + doclens over the global doc space, then run the
    batch builder's terms/stats/segments stages on the merged
    postings (build() resumes past stages 1-2 because their outputs
    + manifest entries are in place). Tombstones (root- or per-delta
    deletes/) are applied physically here — Lucene's merge-applies-
    deletes semantics — so the compacted index has no delete set and
    its stats reflect only live docs."""
    ixr = IncrementalIndexer(index_dir)
    deltas = ixr.delta_dirs(spark)
    assert deltas, "nothing to compact"
    cfg = config or _config_from_delta(spark, deltas[0])
    dl = _union_parquet(spark, [os.path.join(d, "doclens") for d in deltas])
    flat = _union_parquet(
        spark, [os.path.join(d, "postings_flat") for d in deltas]
    )
    del_paths = [
        p
        for p in [os.path.join(index_dir, "deletes")]
        + [os.path.join(d, "deletes") for d in deltas]
        if fsio.exists(p, spark)
    ]
    if del_paths:
        dd = _union_parquet(spark, del_paths).select("doc_id").distinct()
        dl = dl.join(F.broadcast(dd), "doc_id", "left_anti")
        flat = flat.join(F.broadcast(dd), "doc_id", "left_anti")
    n_docs = dl.count()
    span = max(1, math.ceil(n_docs / cfg.num_shards))
    reshard = (F.col("doc_id") / F.lit(span)).cast("int")
    (
        fsio.index_writer(
            dl.withColumn("shard", reshard)
            .repartition("shard")
            .sortWithinPartitions("doc_id")
        )
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "doclens"))
    )
    (
        fsio.index_writer(
            flat.withColumn("shard", reshard)
            .repartition("shard")
            .sortWithinPartitions("term", "doc_id")
        )
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "postings_flat"))
    )
    man = Manifest.load(os.path.join(out_dir, "manifest.jsonl"), spark)
    man.record("doclens", "done", rows=n_docs, shard_span=span,
               source="compact")
    man.record("postings_flat", "done", source="compact")
    meta_cols = [
        c
        for c in dl.columns
        if c not in ("shard", "doc_id", "doc_len", "content_sha256")
        and not c.startswith("len_")  # indexed-field lengths, not meta
    ]
    # stages 3-5 run via the ordinary resumable build
    return IndexBuilder(cfg).build(
        dl.limit(0), out_dir, id_col="doc_id", meta_cols=meta_cols,
        resume=True,
    )


# ----------------------------------------------------- stateful ops


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "2 hours",
    by: Optional[Sequence[str]] = None,
):
    """Watermarked (sliding-)window aggregation over an event
    STREAM — the canonical Structured Streaming shape: late rows
    inside the watermark still land in their window; rows later
    than `watermark` are dropped and their windows finalize, which
    is what bounds the state store at 100 TB/day event volumes
    (state = open windows x group keys, not history). Works on a
    batch DataFrame too (the same expression compiles either way).
    -> (window struct(start, end), [by...], n, sum_value)."""
    w = F.window(F.col(ts_col), window, slide or window)
    keys = [w] + [F.col(c) for c in (by or [])]
    out = stream_df
    if stream_df.isStreaming:
        out = out.withWatermark(ts_col, watermark)
    return out.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.round(F.sum(value_col), 4).alias("sum_value"),
    )


def sessionize_stream(
    events_sdf: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """STATEFUL streaming sessionization via applyInPandasWithState:
    the per-user state (last event time, session ordinal) lives in
    the state store, persists across micro-batches AND restarts
    (checkpointed), so a session that spans batches keeps its
    ordinal — the streaming twin of ops/events.sessionize, same
    strict-greater gap rule and (ts, id) tie-break. Each incoming
    event is emitted with its assignment in Update mode.

    The per-group kernel is numpy-vectorized (diff + cumsum over the
    batch's events for that user); state is two scalars per user.
    Assumes per-user event-time order across batches (the log-ingest
    contract); within a batch any order is fine (sorted here).

    -> streaming DataFrame(event_id, user_id, session_n) — sink it
    with foreachBatch (parquet append) or a memory sink in Update
    mode. See run_sessionize_stream for the wired-up runner."""
    import numpy as np
    import pandas as pd  # noqa: F401 (schema types in closure)

    gap_s = float(gap_minutes) * 60.0

    def fn(key, pdfs, state):
        import pandas as pd

        (user,) = key
        if state.exists:
            last_ts, sess_n = state.get
        else:
            last_ts, sess_n = None, 0
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update((last_ts, sess_n))
            return
        rows = pd.concat(chunks).sort_values([ts_col, id_col])
        # naive (NTZ) wall-clock epoch seconds, microsecond-exact
        t = rows[ts_col].to_numpy(dtype="datetime64[us]").astype(
            np.int64
        ) / 1e6
        prev = np.empty_like(t)
        prev[1:] = t[:-1]
        prev[0] = -np.inf if last_ts is None else last_ts
        new = (t - prev) > gap_s
        if last_ts is None:
            new[0] = True
        sess = sess_n + np.cumsum(new.astype(np.int64))
        state.update((float(t[-1]), int(sess[-1])))
        yield pd.DataFrame(
            {
                "event_id": rows[id_col].to_numpy(dtype=np.int64),
                "user_id": np.full(len(rows), int(user), dtype=np.int64),
                "session_n": sess,
            }
        )

    return events_sdf.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType="event_id long, user_id long, session_n long",
        stateStructType="last_ts double, sess_n long",
        outputMode="Update",
        timeoutConf="NoTimeout",
    )


def run_sessionize_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    out_dir: str,
    checkpoint: str,
    gap_minutes: float = 30.0,
    available_now: bool = True,
):
    """Wire sessionize_stream to a parquet file source and a
    foreachBatch parquet-append sink. Call repeatedly with the SAME
    checkpoint as new files land: exactly-once batches, and the
    session state resumes from the state store. Returns the
    StreamingQuery (awaitTermination() it)."""
    src = spark.readStream.schema(schema).parquet(input_path)
    out = sessionize_stream(src, gap_minutes=gap_minutes)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    w = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ------------------------------------------------------------------
# ES _rollover / ILM generation management
# ------------------------------------------------------------------

def _alias_meta_path(alias_dir: str) -> str:
    return os.path.join(alias_dir, "alias.json")


def _load_alias(alias_dir: str, spark=None) -> dict:
    p = _alias_meta_path(alias_dir)
    if fsio.exists(p, spark):
        return json.loads(fsio.read_text(p, spark))
    return {"generations": []}


class RolloverWriter:
    """ES `_rollover` (ILM hot-phase) over the incremental write
    path: ingest lands in the CURRENT generation (a normal
    IncrementalIndexer delta chain under alias_dir/gen_NNNNNN);
    when the generation's doc count reaches `max_docs` or its delta
    count reaches `max_deltas`, the next ingest opens a fresh
    generation. Old generations become immutable — compact or
    force_merge them independently (each is an ordinary index root)
    without ever blocking the write path, which is the point of
    rollover at scale: maintenance cost is bounded by generation
    size, not corpus size. Age-based rollover belongs to the
    caller's scheduler (call `rollover()` from it).

    Serving: `open_rollover(spark, alias_dir)` — one MultiIndex over
    every generation's deltas with doc ids rebased per generation
    (stats-only prefix sums, no data pass), rank-identical to a
    single combined build by the alias machinery's existing
    guarantees. alias.json records the generation list."""

    def __init__(
        self,
        alias_dir: str,
        content_col: str = "content",
        order_cols: Sequence[str] = ("repo", "path", "commit"),
        meta_cols: Optional[Sequence[str]] = None,
        config: Optional[BuildConfig] = None,
        max_docs: int = 100_000,
        max_deltas: int = 32,
    ):
        self.alias_dir = alias_dir
        self.content_col = content_col
        self.order_cols = tuple(order_cols)
        self.meta_cols = meta_cols
        self.cfg = config
        self.max_docs = int(max_docs)
        self.max_deltas = int(max_deltas)

    # -- generation bookkeeping -------------------------------------
    def generations(self, spark=None) -> List[str]:
        meta = _load_alias(self.alias_dir, spark)
        return [
            os.path.join(self.alias_dir, g) for g in meta["generations"]
        ]

    def _save(self, meta: dict, spark=None) -> None:
        fsio.write_text(
            _alias_meta_path(self.alias_dir), json.dumps(meta), spark
        )

    def rollover(self, spark=None) -> str:
        """Unconditionally open a new generation (the explicit ES
        `POST _rollover` call). Returns its directory."""
        meta = _load_alias(self.alias_dir, spark)
        gen = f"gen_{len(meta['generations']) + 1:06d}"
        meta["generations"].append(gen)
        self._save(meta, spark)
        return os.path.join(self.alias_dir, gen)

    def _current(self, spark=None) -> str:
        meta = _load_alias(self.alias_dir, spark)
        if not meta["generations"]:
            return self.rollover(spark)
        return os.path.join(self.alias_dir, meta["generations"][-1])

    def _indexer(self, gen_dir: str) -> IncrementalIndexer:
        return IncrementalIndexer(
            gen_dir,
            content_col=self.content_col,
            order_cols=self.order_cols,
            meta_cols=self.meta_cols,
            config=self.cfg,
        )

    def _should_roll(self, gen_dir: str, spark=None) -> bool:
        ixr = self._indexer(gen_dir)
        meta = ixr._load_meta(spark)
        return (
            meta["next_doc_id"] >= self.max_docs
            or len(meta["batches"]) >= self.max_deltas
        )

    # -- write path ---------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: rolls over BEFORE the write when the
        current generation is full, so a generation never exceeds
        max_docs by more than one batch."""
        spark = batch_df.sparkSession
        gen = self._current(spark)
        if self._should_roll(gen, spark):
            gen = self.rollover(spark)
        self._indexer(gen).process_batch(batch_df, batch_id)


def open_rollover(
    spark: SparkSession, alias_dir: str, similarity: str = "bm25"
) -> MultiIndex:
    """Serve a rollover alias: every generation's deltas in one
    MultiIndex. Per-generation doc bases are the prefix sums of each
    generation's ingested doc count (ingest_meta.json reads only);
    deltas inside a generation already share its local id space, so
    every delta of generation g shifts by the same base. Generation-
    root tombstones (delete_docs against a generation) shift with
    their generation via extra_delete_specs."""
    gens = RolloverWriter(alias_dir).generations(spark)
    if not gens:
        raise ValueError(f"no generations under {alias_dir}")
    delta_dirs: List[str] = []
    offs: List[int] = []
    extra: List[tuple] = []
    base = 0
    for g in gens:
        ixr = IncrementalIndexer(g)
        meta = ixr._load_meta(spark)
        deltas = ixr.delta_dirs(spark)
        for d in deltas:
            delta_dirs.append(d)
            offs.append(base)
        extra.append((os.path.join(g, "deletes"), base))
        base += int(meta["next_doc_id"])
    return MultiIndex(
        spark,
        delta_dirs,
        similarity=similarity,
        doc_offsets=offs,
        extra_delete_specs=extra,
    )
