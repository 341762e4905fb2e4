"""Distributed inverted-index builder (engine Layer B; BASELINE.json:6).

Pipeline (all DataFrame ops + Arrow-vectorized pandas kernels; no
per-row Python):

  docs ──> deterministic doc_id (global rank over a unique sort key;
           NOT monotonically_increasing_id — that is nondeterministic
           across retries and would break rank-identity + resume).
           After assignment the frame is RANGE-partitioned by the
           sort key, i.e. by doc_id — this partitioning is reused by
           every downstream stage (shards are doc_id ranges).
       ──> content_sha256 = sha2(content, 256)   (per-row invariant)
       ──> tokens (shared analyzer; JVM expression or pandas UDF)
       ──> doclens  [parquet, partitionBy(shard) — NO shuffle: each
            range partition covers 1-2 shards]
       ──> postings_flat: per-partition vectorized pandas kernel
           (numpy lexsort/group-boundary; tokens never leave their
           partition) -> (term, doc_id, tf, positions, doc_len),
           local sort by (term, doc_id) for parquet row-group
           min/max pruning, partitionBy(shard) write.
           [ZERO shuffle — the classic "local inverted index per
           split" pattern; at 100 TB this is the difference between
           shuffling ~2x corpus size and shuffling nothing]
       ──> term dictionary: EXPLICIT two-phase salted aggregation
           groupBy(term, salt) -> groupBy(term)  [shuffle 1, tiny
           rows — the salt bounds any single reducer's share of a
           hot term like 'import'/'def' even with partial-agg
           disabled]
       ──> segments: delta+varbyte block encoding in a SECOND
           zero-shuffle mapInPandas pass over the term-sorted flat
           parquet [NO shuffle — the block BM25 bound factors as
           idf(term) * f(max_tf), and idf is applied at query time,
           so the encode needs no dictionary join]. A block stores
           doc-id gaps, tfs, doc lengths and position deltas; a
           doc's position count is its tf, so it is not stored
           again. The dictionary aggregation is the build's ONLY
           shuffle, and its rows are (term, partial-count) pairs —
           bytes, not postings.

Every table is written through fsio.index_writer, with zstd pages.

Shard layout is DOC-partitioned (each shard holds postings of ALL
terms for its doc range). At query time every shard evaluates the
whole query locally (block-max pruned) and emits its top-k; the
global merge is a k-row TakeOrderedAndProject — the classic
document-partitioned search architecture, chosen over
term-partitioned because it needs NO query-time shuffle of posting
data and is immune to hot-term skew at query time.

Every stage writes a manifest entry; `build()` is checkpoint-
resumable: completed stages (manifest status=done + parquet
_SUCCESS) are skipped on rerun.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucille_spark.codec import varbyte_encode_with_lengths
from lucille_spark.index import fsio
from lucille_spark.sqlgen import ident

INDEX_FORMAT = 5  # bump when the on-disk layout changes
# the one posting-block codec, recorded in stats.json as "codec"
BLOCK_CODEC = "varbyte"

FLAT_SCHEMA = (
    "shard int, term string, doc_id long, doc_len int, tf int, "
    "positions array<int>"
)

# One row per block of up to block_size postings of a term. A doc's
# position count is its tf, so `positions` (per-doc position deltas,
# null when the index stores no positions) is split by `tfs`.
SEGMENT_SCHEMA = (
    "shard int, term string, block_id int, doc_id_base long, "
    "doc_id_max long, n_docs int, "
    "ids_delta binary, tfs binary, dls binary, "
    "positions binary, max_tf int"
)


def assign_doc_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int = 32,
    pinned_out: Optional[list] = None,
) -> DataFrame:
    """Deterministic dense doc_id = global rank over `order_cols`
    (a unique key). Scalable: range-repartition + within-partition
    sort + per-partition row counts -> offsets; the assignment equals
    the global sort rank no matter how range boundaries fall, so it
    is reproducible across runs/retries (SURVEY.md §4.3).

    The range-partitioned frame is persist()ed BEFORE the counts
    collect: the offsets job and the downstream rank job must see the
    SAME partitioning, and an unpersisted repartitionByRange can
    re-sample different boundaries on re-execution (task retries, AQE
    re-planning) — which would mis-assign or duplicate ids. The
    pinned frame is appended to `pinned_out` (if given) so the caller
    can unpersist once the downstream result is materialized."""
    d = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    d = d.sortWithinPartitions(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.persist()
    if pinned_out is not None:
        pinned_out.append(d)
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        d.withColumn(
            "doc_id",
            (F.row_number().over(w) - 1 + omap[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


@dataclass
class BuildConfig:
    num_shards: int = 8
    block_size: int = 128
    term_group_buckets: int = 8        # applyInPandas group granularity
    salt_buckets: int = 16             # hot-term salting fan-out
    store_positions: bool = True
    # text analyzer: "standard" (identifier-preserving, [a-z0-9_]+
    # runs) or "code" (camelCase/ALLCAPS/snake_case subtoken
    # splitting — analysis.code_tokenize). Recorded in stats.json;
    # readers resolve query-time analysis through the same registry.
    analyzer: str = "standard"
    dict_partitions: int = 8
    # split each task's term-sorted output into term-contiguous files
    # so the per-file (term_min, term_max) index can prune whole files
    # at query time; None = one file per task (no file pruning)
    max_records_per_file: Optional[int] = 262_144
    # cluster doclens rows by a low-cardinality meta column (e.g.
    # "lang") via an extra sortWithinPartitions — still ZERO shuffle.
    # Parquet row-group min/max stats on that column then prune
    # metadata-only queries (`lang:de` with no scored term) down to
    # the matching row groups instead of scanning every doc's row;
    # at 10^11 docs that's the difference between reading one
    # language and reading the corpus. None = doc_id order (default;
    # favors point-lookup locality for _mget instead).
    doclens_sort_by: Optional[str] = None
    # Lucene/ES index sorting (index.sort): assign doc ids by rank
    # over this input column (tiebreak: the external id / order_cols),
    # making doc-id order == sort-field order corpus-wide. Serving can
    # then answer "match + ORDER BY field LIMIT k" as "k smallest (or
    # largest) matching doc ids" — no field join before the cut, no
    # global sort, early termination per shard
    # (search_features.sorted_topk). Recorded in stats.json.
    index_sort: Optional[str] = None


@dataclass
class Manifest:
    """Per-stage lineage/metrics journal. Works against POSIX paths
    and Hadoop URIs alike (fsio): on a URI each record rewrites the
    whole file (append is unsupported on object stores), locally it
    appends — the format is identical either way."""

    path: str
    entries: List[dict] = field(default_factory=list)
    spark: Optional[object] = None

    @classmethod
    def load(cls, path: str, spark=None) -> "Manifest":
        m = cls(path, spark=spark)
        if fsio.exists(path, spark):
            text = fsio.read_text(path, spark)
            m.entries = [json.loads(line) for line in text.splitlines() if line.strip()]
        return m

    def done(self, stage: str) -> bool:
        return any(
            e["stage"] == stage and e["status"] == "done"
            for e in self.entries
        )

    def record(self, stage: str, status: str, **metrics) -> None:
        e = {"stage": stage, "status": status, "ts": time.time(), **metrics}
        self.entries.append(e)
        if fsio.is_uri(self.path) and self.spark is not None:
            fsio.write_text(
                self.path,
                "".join(json.dumps(x) + "\n" for x in self.entries),
                self.spark,
            )
        else:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "a") as f:
                f.write(json.dumps(e) + "\n")

    def remove(self) -> None:
        if fsio.is_uri(self.path) and self.spark is not None:
            fs, p = fsio._fs(self.spark, self.path)
            if fs.exists(p):
                fs.delete(p, False)
        elif os.path.exists(self.path):
            os.remove(self.path)


class IndexBuilder:
    def __init__(self, config: Optional[BuildConfig] = None, **kw):
        self.cfg = config or BuildConfig(**kw)

    # ---------------------------------------------------------- build
    def build(
        self,
        docs: DataFrame,
        out_dir: str,
        content_col: str = "content",
        id_col: Optional[str] = None,
        order_cols: Sequence[str] = ("repo", "path", "commit"),
        meta_cols: Optional[Sequence[str]] = None,
        indexed_cols: Sequence[str] = (),
        resume: bool = True,
        assume_partitioned: bool = False,
        meta_types: Optional[Dict[str, str]] = None,
    ) -> dict:
        """Build the full index under `out_dir`. Returns stats dict.

        `indexed_cols`: extra text columns indexed as full-text
        FIELDS. Their tokens live in the shared postings/dictionary
        under the term key "<field>:<token>" (':' can never occur in
        an analyzer token), with the FIELD's token count as the
        posting row's doc_len — so df/idf, hot-term salting, file
        pruning, segments and both executors work unchanged, and BM25
        normalizes by the field's average length (per-field norms;
        stats.json "indexed_fields" maps field -> avgdl, averaged
        over ALL docs). Queries: `path:parser`, `title:"big data"`.
        An indexed col may also stay in meta_cols (filterable raw
        string); the planner gives the indexed interpretation
        precedence."""
        cfg = self.cfg
        spark = docs.sparkSession
        man = Manifest.load(os.path.join(out_dir, "manifest.jsonl"), spark)
        if not resume:
            man.entries = []
            man.remove()

        if meta_cols is None:
            meta_cols = [
                c for c in docs.columns if c not in (content_col, id_col)
            ]
        meta_cols = list(meta_cols)
        if cfg.index_sort:
            # Lucene/ES index sorting (index.sort): doc ids become the
            # global rank over (sort field, tiebreak), so doc-id order
            # IS sort-field order — enabling early-terminated "sort by
            # field" serving (search_features.sorted_topk) and
            # sort-key-clustered parquet row groups. An external id
            # column survives as stored meta.
            if cfg.index_sort not in docs.columns:
                raise ValueError(
                    f"index_sort {cfg.index_sort!r} not in input columns"
                )
            if id_col is not None:
                if id_col not in meta_cols:
                    meta_cols.append(id_col)
                order_cols = (cfg.index_sort, id_col)
                id_col = None
            else:
                order_cols = (cfg.index_sort, *tuple(order_cols))
        indexed_cols = list(indexed_cols)
        for c in indexed_cols:
            if c not in docs.columns:
                raise ValueError(f"indexed_col {c!r} not in input columns")
        if meta_types is None:
            # record each meta column's VALUE type so the planner can
            # give numeric columns numeric eq/range semantics (Lucene
            # points) even though doclens stores strings
            num_types = (
                "tinyint", "smallint", "int", "bigint", "float",
                "double",
            )
            by_name = {f.name: f.dataType.simpleString() for f in docs.schema}
            meta_types = {
                c: "num"
                if by_name.get(c, "string").split("(")[0] in num_types
                or by_name.get(c, "").startswith("decimal")
                else "str"
                for c in meta_cols
            }

        doclens_path = os.path.join(out_dir, "doclens")
        flat_path = os.path.join(out_dir, "postings_flat")
        terms_path = os.path.join(out_dir, "terms")
        seg_path = os.path.join(out_dir, "segments")
        stats_path = os.path.join(out_dir, "stats.json")

        # ---- stages 1+2: doclens + postings_flat (share the tokenized
        # frame; each write is individually resumable)
        need_doclens = not (
            man.done("doclens") and _has_success(doclens_path, spark)
        )
        need_flat = not (
            man.done("postings_flat") and _has_success(flat_path, spark)
        )
        if need_doclens or need_flat:
            pinned: List[DataFrame] = []
            if id_col is None:
                base = assign_doc_ids(docs, order_cols, pinned_out=pinned)
            else:
                base = docs.withColumn("doc_id", F.col(id_col).cast("long"))
                if id_col != "doc_id":
                    base = base.drop(id_col)
                if not assume_partitioned:
                    # restore the doc_id range partitioning the zero-
                    # shuffle writes below rely on
                    base = base.repartitionByRange(
                        max(docs.rdd.getNumPartitions(), cfg.num_shards),
                        "doc_id",
                    )
            # NB: tokens are never materialized as a Spark column —
            # caching/shuffling array<string> columns is the dominant
            # cost at scale. doc_len is a cheap native expression;
            # full tokenization happens once, inside the postings
            # kernel (Arrow-vectorized pandas, BASELINE.json:6).
            base = base.persist()
            n_docs = base.count()
            # base is materialized; the range-partitioned intermediate
            # pinned inside assign_doc_ids is no longer needed
            for p in pinned:
                p.unpersist()
            shard_span = max(1, math.ceil(n_docs / cfg.num_shards))
            base = base.withColumn(
                "shard", (F.col("doc_id") / F.lit(shard_span)).cast("int")
            )
            if need_doclens:
                t0 = time.time()
                # indexed fields also record their per-doc length
                # (len_<field>) — per-field norms need the field
                # length for EVERY doc (BM25F weighted dl), not just
                # docs whose postings the query touches
                dl_schema = (
                    "shard int, doc_id long, doc_len int, "
                    "content_sha256 string"
                    + "".join(f", {ident(c)} string" for c in meta_cols)
                    + "".join(f", len_{c} int" for c in indexed_cols)
                )
                dl_df = (
                    base.select(
                        "shard",
                        "doc_id",
                        F.col(content_col).alias("content"),
                        *[
                            F.col(c).cast("string").alias(c)
                            for c in meta_cols
                        ],
                        *[
                            F.coalesce(
                                F.col(c).cast("string"), F.lit("")
                            ).alias(f"_ix_{c}")
                            for c in indexed_cols
                        ],
                    )
                    .sortWithinPartitions("doc_id")
                    .mapInPandas(
                        _make_doclens_kernel(
                            meta_cols, cfg.analyzer, indexed_cols
                        ),
                        schema=dl_schema,
                    )
                )
                if cfg.doclens_sort_by:
                    if cfg.doclens_sort_by not in meta_cols:
                        raise ValueError(
                            "doclens_sort_by must name a meta "
                            f"column, got {cfg.doclens_sort_by!r}"
                        )
                    # local re-sort (no shuffle): rows inside each
                    # task become meta-clustered, so parquet
                    # row-group stats prune metadata-only scans.
                    # shard leads the sort so the partitioned write's
                    # required ordering is already satisfied and it
                    # inserts no sort of its own (which would not
                    # preserve the secondary order)
                    dl_df = dl_df.sortWithinPartitions(
                        "shard", cfg.doclens_sort_by, "doc_id"
                    )
                (
                    fsio.index_writer(dl_df)
                    .partitionBy("shard")
                    .parquet(doclens_path)
                )
                man.record(
                    "doclens", "done", rows=n_docs, secs=time.time() - t0,
                    shard_span=shard_span,
                )
            if need_flat:
                t0 = time.time()
                flat = base.select(
                    "shard", "doc_id", F.col(content_col).alias("content"),
                    *[
                        F.coalesce(
                            F.col(c).cast("string"), F.lit("")
                        ).alias(c)
                        for c in indexed_cols
                    ],
                ).mapInPandas(
                    _make_postings_kernel(cfg.analyzer, indexed_cols),
                    schema=FLAT_SCHEMA,
                )
                # NOT partitionBy(shard): the dynamic-partition writer
                # costs ~40% of this stage, and nothing filters flat
                # by shard — term pushdown uses row-group min/max
                # stats (each task file is sorted by (shard, term,
                # doc_id)), and the segment pass only needs sorted
                # (shard, term) runs per file, which plain task files
                # provide.
                w = fsio.index_writer(
                    flat.sortWithinPartitions("shard", "term", "doc_id")
                )
                if cfg.max_records_per_file:
                    # rows are term-sorted within each task, so the
                    # record cap splits a task's output into files
                    # covering CONTIGUOUS term ranges — which is what
                    # makes the per-file term index selective
                    w = w.option(
                        "maxRecordsPerFile", cfg.max_records_per_file
                    )
                w.parquet(flat_path)
                man.record("postings_flat", "done", secs=time.time() - t0)
            base.unpersist()

        flat = spark.read.parquet(flat_path)

        # ---- stage 3: term dictionary with explicit salted two-phase agg
        if not (man.done("terms") and _has_success(terms_path, spark)):
            t0 = time.time()
            salted = flat.withColumn(
                "_salt", F.pmod(F.hash("doc_id"), F.lit(cfg.salt_buckets))
            )
            partial = salted.groupBy("term", "_salt").agg(
                F.count("*").alias("pdf"), F.sum("tf").alias("pcf")
            )
            stats_df = partial.groupBy("term").agg(
                F.sum("pdf").alias("df"), F.sum("pcf").alias("cf")
            )
            pinned_terms: List[DataFrame] = []
            terms = _assign_term_ids(
                stats_df, cfg.dict_partitions, pinned_out=pinned_terms
            )
            # _assign_term_ids output is already range-partitioned by
            # term and window-sorted within partitions — write as-is
            # (a second repartitionByRange here would add an exchange
            # and re-sample boundaries for nothing)
            fsio.index_writer(terms).parquet(terms_path)
            for p in pinned_terms:
                p.unpersist()
            man.record("terms", "done", secs=time.time() - t0)
        terms = spark.read.parquet(terms_path)

        # ---- stage 4: global stats
        if fsio.exists(stats_path, spark) and man.done("stats"):
            stats = json.loads(fsio.read_text(stats_path, spark))
        else:
            t0 = time.time()
            dls = spark.read.parquet(doclens_path)
            row = dls.agg(
                F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
            ).collect()[0]
            n_terms = terms.count()
            # per-field average length: sum of the field's tfs over
            # ALL docs (docs without the field count as length 0) —
            # one aggregation over the prefixed terms only
            indexed_fields = {}
            if indexed_cols:
                frows = (
                    flat.filter(F.col("term").contains(":"))
                    .groupBy(
                        F.split(F.col("term"), ":", 2)
                        .getItem(0)
                        .alias("f")
                    )
                    .agg(F.sum("tf").alias("tot"))
                    .collect()
                )
                tot = {r["f"]: int(r["tot"]) for r in frows}
                nd = max(int(row["n"]), 1)
                indexed_fields = {
                    f: float(tot.get(f, 0)) / nd or 1.0
                    for f in indexed_cols
                }
            stats = {
                "format": INDEX_FORMAT,
                "n_docs": int(row["n"]),
                "avg_dl": float(row["avgdl"] or 1.0),
                "indexed_fields": indexed_fields,
                "n_terms": int(n_terms),
                "num_shards": cfg.num_shards,
                "block_size": cfg.block_size,
                "codec": BLOCK_CODEC,
                "analyzer": cfg.analyzer,
                "meta_cols": meta_cols,
                "meta_types": meta_types,
                "index_sort": cfg.index_sort,
                "shard_span": max(
                    1, math.ceil(int(row["n"]) / cfg.num_shards)
                ),
            }
            fsio.write_text(stats_path, json.dumps(stats), spark)
            man.record("stats", "done", secs=time.time() - t0, **{
                k: v for k, v in stats.items() if not isinstance(v, list)
            })

        # ---- stage 5: compressed block segments with block-max stats.
        # ZERO-shuffle: a second mapInPandas pass over the flat
        # parquet. Each scan partition holds whole (term, doc-range)
        # runs in sorted order (files are written term-sorted;
        # parquet splits hand out whole row groups), so the streaming
        # kernel just detects (shard, term) boundaries and encodes.
        # A term split across files/splits yields multiple block runs
        # with disjoint doc ranges — the reader orders runs by
        # doc_id_base, which is also why no dictionary join is
        # needed: the BM25 block bound factors as
        # idf(term) * ub(max_tf), and idf is applied at query time.
        if not (man.done("segments") and _has_success(seg_path, spark)):
            t0 = time.time()
            kernel = _make_segment_kernel(
                cfg.block_size, cfg.store_positions
            )
            segs = flat.select(
                "shard", "term", "doc_id", "doc_len", "tf", "positions"
            ).mapInPandas(kernel, schema=SEGMENT_SCHEMA)
            w = fsio.index_writer(segs).partitionBy("shard")
            if cfg.max_records_per_file:
                w = w.option(
                    "maxRecordsPerFile", cfg.max_records_per_file
                )
            w.parquet(seg_path)
            man.record("segments", "done", secs=time.time() - t0)

        # ---- stage 6: per-file (term_min, term_max) index. Files are
        # doc-partitioned but term-SORTED inside, and the record cap
        # above splits tasks into term-contiguous files — so a rare
        # term intersects O(num_shards) files, not all of them. The
        # footer scan is distributed (pyarrow metadata only, no data
        # read); queries prune files driver-side BEFORE the scan,
        # which at 10^12-file scale is the difference between reading
        # every footer and reading a handful (VERDICT r1 #6).
        fidx_path = os.path.join(out_dir, "file_index.json")
        if not (man.done("file_index") and fsio.exists(fidx_path, spark)):
            t0 = time.time()
            fidx = {
                "flat": _file_term_ranges(spark, flat_path),
                "segments": _file_term_ranges(spark, seg_path),
            }
            fsio.write_text(fidx_path, json.dumps(fidx), spark)
            man.record(
                "file_index", "done", secs=time.time() - t0,
                n_flat_files=len(fidx["flat"]),
                n_segment_files=len(fidx["segments"]),
            )

        return stats


def _has_success(path: str, spark=None) -> bool:
    return fsio.exists(os.path.join(path, "_SUCCESS"), spark)


def _footer_term_range(path_uri: str):
    """(term_min, term_max) from one parquet footer; (None, None) when
    statistics are missing or truncation-suspect (conservative)."""
    import pyarrow.parquet as pq

    local = path_uri[7:] if path_uri.startswith("file://") else (
        path_uri[5:] if path_uri.startswith("file:") else path_uri
    )
    try:
        md = pq.ParquetFile(local).metadata
        ci = md.schema.names.index("term")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                raise ValueError("no stats")
            mins.append(st.min)
            maxs.append(st.max)
        tmin, tmax = min(mins), max(maxs)
        # parquet truncates very long string stats; terms that long
        # make the max a prefix (unsound upper bound) — fall back to
        # unpruned for such files
        if len(str(tmax)) >= 64:
            raise ValueError("possible truncation")
        return tmin, tmax
    except Exception:
        return None, None


def _file_term_ranges(spark, table_path: str) -> List[list]:
    """[[file_uri, term_min, term_max], ...] from parquet FOOTERS only
    (pyarrow metadata; no data pages touched). Small file sets are
    read driver-side (a footer is ~ms; a Spark job is not); large
    sets fan out over executors."""
    files = spark.read.parquet(table_path).inputFiles()
    if not files:
        return []
    if len(files) <= 512:
        return [[p, *_footer_term_range(p)] for p in files]
    fdf = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(min(len(files) // 64, 256))

    def kernel(batches):
        for pdf in batches:
            out = {"path": [], "tmin": [], "tmax": []}
            for p in pdf["path"]:
                tmin, tmax = _footer_term_range(p)
                out["path"].append(p)
                out["tmin"].append(tmin)
                out["tmax"].append(tmax)
            yield pd.DataFrame(out)

    rows = fdf.mapInPandas(
        kernel, schema="path string, tmin string, tmax string"
    ).collect()
    return [[r["path"], r["tmin"], r["tmax"]] for r in rows]


def _assign_term_ids(
    stats_df: DataFrame,
    partitions: int,
    pinned_out: Optional[list] = None,
) -> DataFrame:
    """Dense term_id = rank of term in lexicographic order, scalable
    (range partition + partition offsets, same scheme as doc ids).
    Persists the partitioned frame before the counts collect for the
    same determinism reason as assign_doc_ids — AND so the upstream
    salted aggregation executes once, not once per downstream job."""
    d = stats_df.repartitionByRange(partitions, "term").sortWithinPartitions(
        "term"
    )
    d = d.withColumn("_pid", F.spark_partition_id())
    d = d.persist()
    if pinned_out is not None:
        pinned_out.append(d)
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    acc, offsets = 0, {}
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy("term")
    return (
        d.withColumn(
            "term_id",
            (F.row_number().over(w) - 1 + omap[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


def _make_doclens_kernel(
    meta_cols: Sequence[str],
    analyzer: str = "standard",
    indexed_cols: Sequence[str] = (),
):
    """mapInPandas kernel for the doclens table: vectorized token
    count (str.count of the analyzer regex — identical to
    len(tokenize(content)) under the configured analyzer) + sha256
    (hashlib; equals Spark sha2(content, 256) and DuckDB sha256 on
    the UTF-8 bytes). Each indexed field contributes its own token
    count column len_<field> (same vectorized counter over the
    field's text)."""
    import hashlib

    from lucille_spark.analysis import pandas_token_counts

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[["shard", "doc_id"]].copy()
            out["doc_len"] = pandas_token_counts(
                pdf["content"], analyzer
            ).astype("int32")
            out["content_sha256"] = [
                hashlib.sha256(c.encode("utf-8")).hexdigest()
                for c in pdf["content"]
            ]
            for c in meta_cols:
                out[c] = pdf[c]
            for c in indexed_cols:
                out[f"len_{c}"] = pandas_token_counts(
                    pdf[f"_ix_{c}"], analyzer
                ).astype("int32")
            yield out[
                ["shard", "doc_id", "doc_len", "content_sha256"]
                + list(meta_cols)
                + [f"len_{c}" for c in indexed_cols]
            ]

    return kernel


def _make_postings_kernel(
    analyzer: str = "standard", indexed_cols: Sequence[str] = ()
):
    """mapInPandas kernel factory: (shard, doc_id, content[, field
    cols]) rows -> flat posting rows (shard, term, doc_id, doc_len,
    tf, positions). Tokenization (vectorized pandas str ops — the
    same analyzer rule as analysis.get_analyzer(analyzer)) + numpy
    postings: flatten token lists, lexsort by (doc, term),
    group-boundary detection, np.split for position lists. Each
    indexed field col runs the same pipeline with its terms prefixed
    "<field>:" and doc_len = the FIELD's token count (per-field
    norms). No shuffle — postings are a per-document computation."""
    from lucille_spark.analysis import pandas_token_lists

    fields = [("", "content")] + [(f + ":", f) for f in indexed_cols]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for prefix, col in fields:
                out = _postings_frame(
                    pdf, col, prefix, analyzer, pandas_token_lists
                )
                if out is not None:
                    yield out

    return kernel


def _postings_frame(pdf, col, prefix, analyzer, pandas_token_lists):
    tok_lists = pandas_token_lists(pdf[col], analyzer).tolist()
    lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return None
    flat_terms = np.concatenate(
        [np.asarray(t, dtype=object) for t in tok_lists if len(t)]
    )
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    gpos = (np.arange(total) - starts).astype(np.int32)
    doc_ids = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
    shards = np.repeat(pdf["shard"].to_numpy(np.int32), lens)
    doclens = np.repeat(lens, lens).astype(np.int32)
    codes, uniques = pd.factorize(flat_terms, sort=False)
    if prefix:
        uniques = [prefix + u for u in uniques]
    order = np.lexsort((gpos, codes, doc_ids))
    d2, c2, p2 = doc_ids[order], codes[order], gpos[order]
    change = np.empty(total, dtype=bool)
    change[0] = True
    change[1:] = (d2[1:] != d2[:-1]) | (c2[1:] != c2[:-1])
    gidx = np.flatnonzero(change)
    tf = np.diff(np.append(gidx, total)).astype(np.int32)
    return pd.DataFrame(
        {
            "shard": shards[order][gidx],
            "term": np.asarray(uniques, dtype=object)[c2[gidx]],
            "doc_id": d2[gidx],
            "doc_len": doclens[order][gidx],
            "tf": tf,
            "positions": np.split(p2, gidx[1:]),
        }
    )


def _make_segment_kernel(block_size: int, store_positions: bool):
    """mapInPandas kernel over flat rows in (term, doc_id) order ->
    delta+varbyte block rows with block-max tf stats (the BM25 block
    bound idf(term) * max_tf/(max_tf + k1(1-b)) is completed at
    query time, which is what lets this pass run without the term
    dictionary and hence without any shuffle).

    Streaming: batches are scanned for (shard, term) boundaries; a
    term's rows (possibly spanning batches) are buffered and encoded
    once complete — no pandas sort or groupby. Per term, every array
    (docID gaps, tfs, doc lens, position deltas) is varbyte-encoded
    ONCE, whole; blocks are byte slices computed from the per-value
    length arrays."""

    def encode_term(shard: int, term: str, grp: pd.DataFrame) -> pd.DataFrame:
        ids = grp["doc_id"].to_numpy(dtype=np.int64)
        tfs = grp["tf"].to_numpy(dtype=np.int64)
        dls = grp["doc_len"].to_numpy(dtype=np.int64)
        poss_in = grp["positions"].tolist() if store_positions else None
        if ids.size > 1 and (np.diff(ids) <= 0).any():
            # scan partitions are not guaranteed doc-contiguous (AQE
            # may remap upstream partitioning between jobs) — restore
            # ascending ids within the run
            order = np.argsort(ids, kind="mergesort")
            ids, tfs, dls = ids[order], tfs[order], dls[order]
            if store_positions:
                poss_in = [poss_in[i] for i in order]
        n = ids.size
        bstarts = np.arange(0, n, block_size, dtype=np.int64)
        bends = np.minimum(bstarts + block_size, n)
        # docID gaps: diff, reset to 0 at each block start (first
        # id of a block is carried in doc_id_base)
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = 0
        gaps[1:] = np.diff(ids).astype(np.uint64)
        gaps[bstarts] = 0
        positions = [None] * bstarts.size
        if store_positions:
            poss = [np.asarray(p, dtype=np.int64) for p in poss_in]
            counts = np.array([p.size for p in poss], dtype=np.int64)
            if (counts != tfs).any():
                # readers split `positions` by the decoded tfs
                raise ValueError(
                    f"term {term!r}: position counts differ from tfs"
                )
            flat_pos = (
                np.concatenate(poss)
                if counts.sum()
                else np.empty(0, dtype=np.int64)
            )
            deltas = np.empty_like(flat_pos)
            if flat_pos.size:
                deltas[0] = flat_pos[0]
                deltas[1:] = flat_pos[1:] - flat_pos[:-1]
                doc_starts = np.cumsum(counts) - counts
                deltas[doc_starts] = flat_pos[doc_starts]
            # doc idx -> first position idx: a block holds the
            # positions of its docs
            pos_cum = np.concatenate(([0], np.cumsum(counts)))
            positions = _block_slices(deltas, pos_cum[bstarts], pos_cum[bends])
        return pd.DataFrame({
            "shard": shard,
            "term": term,
            "block_id": np.arange(bstarts.size),
            "doc_id_base": ids[bstarts],
            "doc_id_max": ids[bends - 1],
            "n_docs": bends - bstarts,
            "ids_delta": _block_slices(gaps, bstarts, bends),
            "tfs": _block_slices(tfs, bstarts, bends),
            "dls": _block_slices(dls, bstarts, bends),
            "positions": positions,
            "max_tf": np.maximum.reduceat(tfs, bstarts),
        })

    def kernel(batches):
        buf: list = []
        cur = None  # (shard, term) being accumulated
        for pdf in batches:
            if not len(pdf):
                continue
            sh = pdf["shard"].to_numpy()
            tid = pdf["term"].to_numpy()
            change = (
                np.flatnonzero((sh[1:] != sh[:-1]) | (tid[1:] != tid[:-1]))
                + 1
            )
            bounds = [0] + change.tolist() + [len(pdf)]
            for a, b in zip(bounds[:-1], bounds[1:]):
                key = (int(sh[a]), str(tid[a]))
                if cur is not None and key != cur:
                    grp = buf[0] if len(buf) == 1 else pd.concat(buf)
                    yield encode_term(cur[0], cur[1], grp)
                    buf = []
                cur = key
                buf.append(pdf.iloc[a:b])
        if buf:
            grp = buf[0] if len(buf) == 1 else pd.concat(buf)
            yield encode_term(cur[0], cur[1], grp)

    return kernel


def _block_slices(values: np.ndarray, starts, ends) -> list:
    """varbyte-encode `values` once, whole, and cut out the bytes of
    each block's values [starts[b], ends[b]) by the per-value byte
    lengths."""
    buf, lengths = varbyte_encode_with_lengths(values)
    cum = np.concatenate(([0], np.cumsum(lengths))).tolist()
    return [buf[cum[s]:cum[e]] for s, e in zip(starts.tolist(), ends.tolist())]
