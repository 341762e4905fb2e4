"""Index maintenance: tombstone deletes and physical purge.

Deletes follow Lucene's live-docs model (segments are immutable;
deletions are side-files applied at query time, made physical by a
merge): ``delete_docs`` appends doc_ids to ``<index>/deletes/``;
both executors exclude tombstoned docs from every result while
df/idf/avgdl/n_docs stay as built — exactly Lucene's
deleted-but-not-yet-merged scoring — and ``purge_deletes`` rewrites
the index without them, recomputing all global stats so post-purge
scores equal a fresh build over the remaining corpus.

Scale notes: the tombstone set rides into the WAND shard kernels as
a sorted int64 array (8 MB per million ids) and into the DataFrame
executor as a broadcast anti-join — both fine for the intended
regime (deletes are a small fraction between purges; purge when the
set grows). The purge itself is shuffle-free on the posting data:
doclens and postings_flat are filtered with a broadcast anti-join
(row order inside each partition is preserved; a within-partition
re-sort restores term-contiguity across concatenated input files),
and the dictionary/stats/segments/file-index stages are the
builder's own — one salted dictionary aggregation is the only
shuffle, same as a fresh build.

An UPDATE is delete + re-ingest: tombstone the old doc_id and add
the new revision through ``streaming.IncrementalIndexer`` (deltas)
or a fresh build of the changed slice.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucille_spark.index import fsio
from lucille_spark.sqlgen import ident
from lucille_spark.index.builder import (
    BuildConfig,
    IndexBuilder,
    Manifest,
)


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    ids: Union[DataFrame, Iterable[int]],
) -> int:
    """Tombstone doc_ids (append-mode parquet under
    ``<index>/deletes/``). `ids`: iterable of ints or a DataFrame
    with a ``doc_id`` column. Returns the number of ids written.
    Re-deleting an already-deleted id is harmless (executors treat
    the set as a set). Live ``SparkIndex`` readers must call
    ``refresh_deletes()`` to observe the change."""
    path = os.path.join(index_dir, "deletes")
    if isinstance(ids, DataFrame):
        df = ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        vals = sorted({int(i) for i in ids})
        df = spark.createDataFrame(
            [(i,) for i in vals], "doc_id long"
        ).coalesce(1)
    df = df.persist()
    n = df.count()
    fsio.index_writer(df, "append").parquet(path)
    df.unpersist()
    return n


def delete_by_query(index, query, k=None) -> int:
    """Tombstone every doc matching a Lucene-syntax `query` (the full
    match set — k=None). Runs through the DataFrame executor so the
    match set never leaves the cluster; refreshes the reader's
    tombstone cache. Returns the number of newly-listed ids."""
    from lucille_spark.exec_df import DataFrameExecutor

    matches = DataFrameExecutor(index).search(query, k=k).select("doc_id")
    n = delete_docs(index.spark, index.dir, matches)
    index.refresh_deletes()
    return n


def purge_deletes(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    config: BuildConfig = None,
) -> dict:
    """Physically rewrite the index at `index_dir` WITHOUT its
    tombstoned docs into `out_dir` (Lucene's expunge-deletes merge).

    doclens and postings_flat are filtered with a broadcast
    anti-join (no shuffle of posting data), then the builder's own
    downstream stages — dictionary (salted agg), stats, segments,
    file index — run over the filtered postings via the manifest
    resume path, so df/idf/avgdl/n_docs are recomputed and the
    purged index is bit-identical in layout to a fresh build over
    the remaining docs. Returns the new stats dict."""
    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError("purge writes a NEW index; out_dir must differ")
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    deletes_path = os.path.join(index_dir, "deletes")
    if not fsio.exists(deletes_path, spark):
        raise ValueError(f"no deletes/ under {index_dir} to purge")
    dd = spark.read.parquet(deletes_path).select("doc_id").distinct()

    cfg = config or BuildConfig(
        num_shards=int(stats["num_shards"]),
        block_size=int(stats["block_size"]),
        analyzer=stats.get("analyzer", "standard"),
    )
    meta_cols = list(stats.get("meta_cols", []))
    indexed_cols = sorted(stats.get("indexed_fields", {}))

    dl = spark.read.parquet(os.path.join(index_dir, "doclens"))
    (
        fsio.index_writer(dl.join(F.broadcast(dd), "doc_id", "left_anti"))
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "doclens"))
    )

    flat = spark.read.parquet(os.path.join(index_dir, "postings_flat"))
    w = fsio.index_writer(
        flat.join(F.broadcast(dd), "doc_id", "left_anti")
        # reading may concatenate files with different term ranges
        # into one partition; the segment kernel needs sorted
        # (shard, term, doc_id) runs per partition
        .sortWithinPartitions("shard", "term", "doc_id")
    )
    if cfg.max_records_per_file:
        w = w.option("maxRecordsPerFile", cfg.max_records_per_file)
    w.parquet(os.path.join(out_dir, "postings_flat"))

    man = Manifest.load(os.path.join(out_dir, "manifest.jsonl"), spark)
    man.record("doclens", "done", purged_from=index_dir)
    man.record("postings_flat", "done", purged_from=index_dir)
    # stages 1+2 are marked done above, so build() goes straight to
    # the dictionary/stats/segments/file-index stages over the
    # filtered postings — docs is only a SparkSession carrier here
    extra = [
        c
        for c in dict.fromkeys(indexed_cols + meta_cols)
        if c not in ("doc_id", "content")
    ]
    empty = spark.createDataFrame(
        [],
        "doc_id long, content string"
        + "".join(f", {ident(c)} string" for c in extra),
    )
    return IndexBuilder(cfg).build(
        empty,
        out_dir,
        content_col="content",
        id_col="doc_id",
        meta_cols=meta_cols,
        indexed_cols=indexed_cols,
        resume=True,
        meta_types=stats.get("meta_types"),
    )


def _copy_tree(spark: SparkSession, src: str, dst: str) -> None:
    """Byte-for-byte copy of one index subtree (no Spark job, no
    row-order risk — doclens keeps any doclens_sort_by clustering)."""
    if not fsio.is_uri(src):
        import shutil

        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
        return
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    sp = jvm.org.apache.hadoop.fs.Path(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp,
        False, True, conf,
    )


def force_merge(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    max_files_per_shard: int = 1,
) -> dict:
    """ES `_forcemerge` / Lucene forceMerge for the parquet index:
    rewrite the two postings tables into at most
    `max_files_per_shard` term-sorted files per shard. An index that
    grew through many incremental builds (or a build with a small
    maxRecordsPerFile) accumulates small files; at 10^4+ files the
    per-file scan/footer overhead — not the data — dominates query
    latency, and this is the operational fix (THE small-files
    compaction at 100 TB).

    Like purge_deletes, the merge writes a NEW index at `out_dir`
    (the old one stays valid until the caller switches — crash-safe
    by construction). Scores are untouched: rows are only re-binned
    (repartitionByRange on (shard, term, ...) keeps files
    term-contiguous, so the per-file term-range pruning index stays
    sharp) and re-sorted within files (row-group stats stay tight).
    deletes/ tombstones are carried over verbatim — use
    purge_deletes to expunge them (ES forcemerge's
    only_expunge_deletes=true is exactly that call). doclens /
    terms / stats.json / manifest are copied byte-for-byte (no
    Spark job — doclens keeps any doclens_sort_by clustering).

    Returns {flat_files: (before, after),
             segment_files: (before, after)}."""
    from lucille_spark.index.builder import _file_term_ranges

    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError(
            "force_merge writes a NEW index; out_dir must differ"
        )
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    n_shards = int(stats["num_shards"])
    target = max(1, n_shards * int(max_files_per_shard))

    flat = spark.read.parquet(os.path.join(index_dir, "postings_flat"))
    flat_before = len(flat.inputFiles())
    fsio.index_writer(
        flat.repartitionByRange(target, "shard", "term", "doc_id")
        .sortWithinPartitions("shard", "term", "doc_id")
    ).parquet(os.path.join(out_dir, "postings_flat"))

    segs = spark.read.parquet(os.path.join(index_dir, "segments"))
    seg_before = len(segs.inputFiles())
    (
        fsio.index_writer(
            segs.repartitionByRange(
                target, "shard", "term", "doc_id_base", "block_id"
            ).sortWithinPartitions(
                "shard", "term", "doc_id_base", "block_id"
            )
        )
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "segments"))
    )

    for sub in ("doclens", "terms"):
        _copy_tree(
            spark,
            os.path.join(index_dir, sub),
            os.path.join(out_dir, sub),
        )
    for f in ("stats.json", "manifest.jsonl"):
        src = os.path.join(index_dir, f)
        if fsio.exists(src, spark):
            fsio.write_text(
                os.path.join(out_dir, f),
                fsio.read_text(src, spark),
                spark,
            )
    deletes_src = os.path.join(index_dir, "deletes")
    if fsio.exists(deletes_src, spark):
        _copy_tree(spark, deletes_src, os.path.join(out_dir, "deletes"))

    fidx = {
        "flat": _file_term_ranges(
            spark, os.path.join(out_dir, "postings_flat")
        ),
        "segments": _file_term_ranges(
            spark, os.path.join(out_dir, "segments")
        ),
    }
    fsio.write_text(
        os.path.join(out_dir, "file_index.json"), json.dumps(fidx), spark
    )
    man = Manifest.load(os.path.join(out_dir, "manifest.jsonl"), spark)
    man.record(
        "force_merge", "done",
        source=index_dir,
        flat_files=[flat_before, len(fidx["flat"])],
        segment_files=[seg_before, len(fidx["segments"])],
    )
    return {
        "flat_files": (flat_before, len(fidx["flat"])),
        "segment_files": (seg_before, len(fidx["segments"])),
    }


def split_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    num_shards: int,
) -> dict:
    """ES `_split` / `_shrink` for the parquet index: change the
    shard count WITHOUT re-tokenizing. The expensive part of a build
    at 100 TB is the corpus scan (analyze + posting construction);
    this op never touches the corpus — it re-bins the already-built
    posting rows into `num_shards` doc-range shards (one shuffle of
    the postings table, zero text processing) and re-runs only the
    builder's segment-encode + file-index stages over them. The
    dictionary (df/cf are global, shard-independent), doclens rows,
    doc ids, deletes/ and all scores are unchanged — a query against
    the split index is rank-identical to the original, it just runs
    at the new parallelism. Grow shards when an index becomes hot
    (more concurrent kernel tasks); shrink to cut per-shard file
    overhead on a cold one.

    Returns the new stats dict."""
    import math

    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError("split writes a NEW index; out_dir must differ")
    num_shards = int(num_shards)
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    dl = spark.read.parquet(os.path.join(index_dir, "doclens"))
    # doc ids need not be dense (purged indexes keep original ids):
    # span over the actual id range, like compaction
    hi = dl.agg(F.max("doc_id").alias("hi")).collect()[0]["hi"]
    span = max(1, math.ceil((int(hi) + 1) / num_shards))
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
    flat = spark.read.parquet(os.path.join(index_dir, "postings_flat"))
    fsio.index_writer(
        flat.withColumn("shard", reshard)
        .repartitionByRange(num_shards, "shard", "term", "doc_id")
        .sortWithinPartitions("shard", "term", "doc_id")
    ).parquet(os.path.join(out_dir, "postings_flat"))
    # dictionary is shard-independent: copy verbatim
    _copy_tree(
        spark,
        os.path.join(index_dir, "terms"),
        os.path.join(out_dir, "terms"),
    )
    deletes_src = os.path.join(index_dir, "deletes")
    if fsio.exists(deletes_src, spark):
        _copy_tree(spark, deletes_src, os.path.join(out_dir, "deletes"))
    stats = dict(stats)
    stats["num_shards"] = num_shards
    stats["shard_span"] = span
    fsio.write_text(
        os.path.join(out_dir, "stats.json"), json.dumps(stats), spark
    )
    man = Manifest.load(os.path.join(out_dir, "manifest.jsonl"), spark)
    for stage in ("doclens", "postings_flat", "terms", "stats"):
        man.record(stage, "done", split_from=index_dir)
    # builder resume path runs ONLY segments + file_index over the
    # re-binned postings (stages 1-4 are recorded done above)
    cfg = BuildConfig(
        num_shards=num_shards,
        block_size=int(stats["block_size"]),
        analyzer=stats.get("analyzer", "standard"),
    )
    meta_cols = list(stats.get("meta_cols", []))
    extra = [c for c in meta_cols if c not in ("doc_id", "content")]
    empty = spark.createDataFrame(
        [],
        "doc_id long, content string"
        + "".join(f", {ident(c)} string" for c in extra),
    )
    return IndexBuilder(cfg).build(
        empty,
        out_dir,
        content_col="content",
        id_col="doc_id",
        meta_cols=meta_cols,
        indexed_cols=sorted(stats.get("indexed_fields", {})),
        resume=True,
        meta_types=stats.get("meta_types"),
    )


def reindex(
    docs: DataFrame,
    src_index_dir: str,
    out_dir: str,
    query=None,
    config: BuildConfig = None,
    content_col: str = "content",
    **build_kwargs,
) -> dict:
    """ES `_reindex`: rebuild an index from its SOURCE docs table
    into `out_dir`, optionally under a new analyzer/sharding
    (`config`) and optionally restricted to the docs matching a
    Lucene-syntax `query` against the SOURCE index (ES reindex with
    a query section). Tombstoned docs are dropped — reindex copies
    live docs only, like ES.

    The index stores no raw content (doclens keeps content_sha256 +
    meta), so reindex reads the source TABLE — the same input the
    original build read; at 100 TB that is one corpus scan, exactly
    the cost of the original build, never more. Doc identity between
    source index and new index rides content_sha256: the match set's
    hashes from the source index select source rows with a broadcast
    semi-join (match sets are query-sized, the corpus is not).

    `config` defaults to the SOURCE index's analyzer/sharding,
    so a bare reindex == purge + fresh build. Returns new stats."""
    spark = docs.sparkSession
    if os.path.abspath(out_dir) == os.path.abspath(src_index_dir):
        raise ValueError("reindex writes a NEW index; out_dir must differ")
    from lucille_spark.index.reader import SparkIndex

    src = SparkIndex(spark, src_index_dir)
    stats = src.stats
    cfg = config or BuildConfig(
        num_shards=int(stats["num_shards"]),
        block_size=int(stats["block_size"]),
        analyzer=stats.get("analyzer", "standard"),
    )
    keep = None
    if query is not None:
        from lucille_spark.exec_df import DataFrameExecutor

        keep = (
            DataFrameExecutor(src)
            .search(query, k=None)
            .select("doc_id")
        )
    elif src.deleted_df is not None:
        # no query: still honor tombstones (live docs only)
        keep = src.doclens.select("doc_id").join(
            F.broadcast(src.deleted_df), "doc_id", "left_anti"
        )
    if keep is not None:
        if "content_sha256" not in src.doclens.columns:
            raise ValueError(
                "reindex with a query needs content_sha256 in the "
                "source index's doclens (the default build stores it)"
            )
        sel = src.doclens.join(keep, "doc_id").select("content_sha256")
        docs = docs.join(
            F.broadcast(sel.distinct()),
            F.sha2(F.col(content_col), 256)
            == F.col("content_sha256"),
            "left_semi",
        )
    return IndexBuilder(cfg).build(
        docs, out_dir, content_col=content_col, **build_kwargs
    )


def snapshot(
    spark: SparkSession,
    index_dir: str,
    snap_dir: str,
    verify: bool = True,
) -> dict:
    """ES `_snapshot`: a byte-for-byte copy of the whole index tree
    (dictionary / doclens / postings / segments / stats / manifest /
    deletes / file-index — and, because it is byte-identical, any
    doclens_sort_by clustering and row-group layout survive).
    Writes `snapshot.json` (source dir, source stats, doc counts)
    LAST so a half-copied snapshot is detectable; `verify=True` runs
    the full fsck (index/check.check_index) on the COPY before
    declaring success. No Spark job for the copy itself — Hadoop
    FileUtil (or shutil locally), so hdfs:// and s3a:// targets work
    like the manifest I/O does. Returns the snapshot manifest."""
    if fsio.exists(os.path.join(snap_dir, "snapshot.json"), spark):
        raise ValueError(f"snapshot target already exists: {snap_dir}")
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    _copy_tree(spark, index_dir, snap_dir)
    if verify:
        from lucille_spark.index.check import check_index

        report = check_index(spark, snap_dir)
        if report.get("errors"):
            raise RuntimeError(
                f"snapshot fsck failed: {report['errors']}"
            )
    manifest = {
        "source": os.path.abspath(index_dir)
        if not fsio.is_uri(index_dir)
        else index_dir,
        "n_docs": stats.get("n_docs"),
        "format": stats.get("format"),
        "analyzer": stats.get("analyzer"),
        "verified": bool(verify),
    }
    fsio.write_text(
        os.path.join(snap_dir, "snapshot.json"),
        json.dumps(manifest),
        spark,
    )
    return manifest


def restore(
    spark: SparkSession,
    snap_dir: str,
    index_dir: str,
) -> dict:
    """Restore a snapshot into a NEW index directory (never in
    place — the crash-safe convention every other admin op here
    follows). Refuses a target that already has stats.json and a
    source without a complete snapshot.json sentinel. Returns the
    snapshot manifest."""
    if not fsio.exists(os.path.join(snap_dir, "snapshot.json"), spark):
        raise ValueError(
            f"not a completed snapshot (no snapshot.json): {snap_dir}"
        )
    if fsio.exists(os.path.join(index_dir, "stats.json"), spark):
        raise ValueError(f"restore target already exists: {index_dir}")
    manifest = json.loads(
        fsio.read_text(os.path.join(snap_dir, "snapshot.json"), spark)
    )
    _copy_tree(spark, snap_dir, index_dir)
    # the sentinel describes the snapshot, not a live index — drop it
    # from the restored tree (local FS only; on URIs it is harmless)
    p = os.path.join(index_dir, "snapshot.json")
    if not fsio.is_uri(p) and os.path.exists(p):
        os.remove(p)
    return manifest


def update_meta(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    meta_df,
    id_col: str = "doc_id",
) -> dict:
    """METADATA-ONLY reindex: rewrite doclens with columns joined
    from `meta_df` on doc_id — postings, dictionary, segments and
    the file index copy byte-identical; nothing re-tokenizes (the
    100 TB answer to "metadata churns weekly, content doesn't").
    Existing meta columns UPDATE where meta_df has a non-null value
    (coalesce new, old); new columns append (null for unmatched
    docs) and join stats.json meta_cols/meta_types so term/range
    filters plan against them immediately.

    Scale: one tree copy + one doclens-sized left join (broadcast
    when meta_df is small); posting data never moves. Returns the
    new stats dict."""
    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError(
            "update_meta writes a NEW index; out_dir must differ"
        )
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    new_cols = [c for c in meta_df.columns if c != id_col]
    if not new_cols:
        raise ValueError("meta_df needs at least one non-id column")
    reserved = {"doc_id", "doc_len", "shard"}
    bad = sorted(reserved & set(new_cols))
    if bad:
        raise ValueError(f"meta columns {bad} are reserved")
    _copy_tree(spark, index_dir, out_dir)
    num_types = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    )
    by_name = {
        f.name: f.dataType.simpleString() for f in meta_df.schema
    }
    m = meta_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(c).cast("string").alias(f"_new_{c}") for c in new_cols],
    )
    dl = spark.read.parquet(os.path.join(index_dir, "doclens"))
    j = dl.join(F.broadcast(m), "doc_id", "left")
    keep = []
    for c in dl.columns:
        if c in new_cols:
            keep.append(
                F.coalesce(F.col(f"_new_{c}"), F.col(c)).alias(c)
            )
        else:
            keep.append(F.col(c))
    for c in new_cols:
        if c not in dl.columns:
            keep.append(F.col(f"_new_{c}").alias(c))
    (
        fsio.index_writer(j.select(*keep))
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "doclens"))
    )
    meta_types = dict(stats.get("meta_types", {}))
    meta_cols = list(stats.get("meta_cols", []))
    for c in new_cols:
        if c not in meta_cols:
            meta_cols.append(c)
        if c not in meta_types:
            t = by_name.get(c, "string").split("(")[0]
            meta_types[c] = (
                "num"
                if t in num_types or t.startswith("decimal")
                else "str"
            )
    stats["meta_cols"] = meta_cols
    stats["meta_types"] = meta_types
    fsio.write_text(
        os.path.join(out_dir, "stats.json"),
        json.dumps(stats, indent=1),
        spark,
    )
    return stats


def disk_usage(spark: SparkSession, index_dir: str) -> dict:
    """ES `_disk_usage` analogue: bytes per index component plus the
    heaviest dictionary terms (df as the postings-weight proxy the
    dictionary already stores — no posting scan). Driver-side file
    listing only (POSIX paths; use fsio-mounted storage for remote
    trees); nothing distributed runs."""
    comps = {}
    for sub in (
        "doclens", "postings_flat", "terms", "segments", "deletes",
        "fileindex",
    ):
        p = os.path.join(index_dir, sub)
        if not os.path.isdir(p):
            continue
        total = 0
        for root, _dirs, files in os.walk(p):
            for fn in files:
                total += os.path.getsize(os.path.join(root, fn))
        comps[sub] = total
    top = (
        spark.read.parquet(os.path.join(index_dir, "terms"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(10)
        .select("term", "df")
        .collect()
    )
    return {
        "components": comps,
        "total_bytes": sum(comps.values()),
        "heaviest_terms": [(r["term"], int(r["df"])) for r in top],
    }
