"""Index integrity checker (`fsck` for the posting layout): recompute
the invariants the executors rely on and compare them against what
the build recorded. The operational tool for "is this index safe to
serve?" after a partial write, a resume, a compaction, or a purge.

Checks (each a small Spark aggregation; the decode check samples):

  1. doclens: row count == stats n_docs; doc_ids unique; avg_dl
     matches. Density (ids == 0..n-1) is reported informationally
     but is NOT an error: purge_deletes keeps original doc_ids
     without renumbering and build(id_col=...) accepts arbitrary
     ids, so a healthy purged index is legitimately sparse.
  2. dictionary vs flat postings: per-term df (row count) and
     cf (sum tf) recomputed from `postings_flat` must equal the
     `terms` table exactly (validates the salted dictionary agg and
     any merge/purge rewrite).
  3. segments vs dictionary: per-term sum of block n_docs equals df.
  4. sampled block decode: every k-th segment block decodes to
     n_docs strictly-ascending doc ids within [doc_id_base, n).
  5. file-term index (if present): every file's recorded
     [term_min, term_max] brackets the file's actual term range.

Returns {"ok": bool, "errors": [...], "checks": {name: detail}}.
Raises ValueError, like SparkIndex, when stats.json names another
on-disk format or posting-block codec (reader.check_layout).
"""

from __future__ import annotations

import json
import os
from typing import List

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucille_spark.index import fsio
from lucille_spark.index.reader import check_layout


def check_index(
    spark: SparkSession, index_dir: str, sample_blocks: int = 200
) -> dict:
    errors: List[str] = []
    checks: dict = {}
    stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "stats.json"), spark)
    )
    check_layout(stats, index_dir)
    dl = spark.read.parquet(os.path.join(index_dir, "doclens"))
    flat = spark.read.parquet(os.path.join(index_dir, "postings_flat"))
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    segs = spark.read.parquet(os.path.join(index_dir, "segments"))

    # 1 — doclens
    row = dl.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.avg("doc_len").alias("adl"),
    ).collect()[0]
    n = int(row["n"])
    checks["doclens"] = dict(row.asDict())
    if n != int(stats["n_docs"]):
        errors.append(f"n_docs: stats {stats['n_docs']} != doclens {n}")
    lo_id, hi_id = int(row["lo"]), int(row["hi"])
    if int(row["nd"]) != n:
        errors.append("doc_ids not unique")
    checks["doc_ids_dense"] = lo_id == 0 and hi_id == n - 1
    if abs(float(row["adl"]) - float(stats["avg_dl"])) > 1e-6:
        errors.append(
            f"avg_dl: stats {stats['avg_dl']} != doclens {row['adl']}"
        )

    # 2 — dictionary vs flat postings
    recomputed = flat.groupBy("term").agg(
        F.count("*").alias("df2"), F.sum("tf").alias("cf2")
    )
    diff = (
        terms.select("term", "df", "cf")
        .join(recomputed, "term", "full_outer")
        .filter(
            F.col("df").isNull()
            | F.col("df2").isNull()
            | (F.col("df") != F.col("df2"))
            | (F.col("cf") != F.col("cf2"))
        )
    )
    n_bad = diff.count()
    checks["dictionary_vs_flat_mismatches"] = n_bad
    if n_bad:
        ex = [r.asDict() for r in diff.limit(3).collect()]
        errors.append(f"dictionary/flat df-cf mismatch on {n_bad} terms, e.g. {ex}")

    # 3 — segments vs dictionary
    seg_df = segs.groupBy("term").agg(F.sum("n_docs").alias("sdf"))
    diff3 = (
        terms.select("term", "df")
        .join(seg_df, "term", "full_outer")
        .filter(
            F.col("df").isNull()
            | F.col("sdf").isNull()
            | (F.col("df") != F.col("sdf"))
        )
    )
    n_bad3 = diff3.count()
    checks["segments_vs_dictionary_mismatches"] = n_bad3
    if n_bad3:
        errors.append(f"segment n_docs sums mismatch df on {n_bad3} terms")

    # 4 — sampled block decode
    import numpy as np
    from pyspark.sql import Window

    from lucille_spark.codec import varbyte_decode

    total_blocks = segs.count()
    step = max(1, total_blocks // max(sample_blocks, 1))
    sample = (
        segs.withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy("term", "doc_id_base", "block_id")
            ),
        )
        .filter(F.col("_rn") % step == 0)
        .limit(sample_blocks)
        .collect()
    )
    bad_blocks = 0
    for r in sample:
        ids = r["doc_id_base"] + np.cumsum(
            varbyte_decode(bytes(r["ids_delta"]))
        )
        ok = (
            len(ids) == r["n_docs"]
            and (len(ids) < 2 or bool((ids[1:] > ids[:-1]).all()))
            and (
                len(ids) == 0
                or (lo_id <= int(ids[0]) and int(ids[-1]) <= hi_id)
            )
            and (len(ids) == 0 or int(ids[-1]) == int(r["doc_id_max"]))
        )
        if not ok:
            bad_blocks += 1
    checks["blocks_sampled"] = len(sample)
    checks["blocks_bad"] = bad_blocks
    if bad_blocks:
        errors.append(f"{bad_blocks} sampled blocks failed decode checks")

    # 5 — file-term index brackets
    fidx_path = os.path.join(index_dir, "file_index.json")
    if fsio.exists(fidx_path, spark):
        raw = json.loads(fsio.read_text(fidx_path, spark))
        n_files_bad = 0
        for key, tbl in [("flat", flat), ("segments", segs)]:
            entries = raw.get(key)
            if not entries:
                continue
            actual = {
                r["f"]: (r["lo"], r["hi"])
                for r in tbl.withColumn(
                    "f", F.input_file_name()
                )
                .groupBy("f")
                .agg(F.min("term").alias("lo"), F.max("term").alias("hi"))
                .collect()
            }
            for path, tmin, tmax in entries:
                hit = [
                    v
                    for k, v in actual.items()
                    if k.endswith(os.path.basename(path))
                    and os.path.basename(os.path.dirname(k))
                    == os.path.basename(os.path.dirname(path))
                ]
                for lo, hi in hit:
                    if lo < tmin or hi > tmax:
                        n_files_bad += 1
        checks["file_index_violations"] = n_files_bad
        if n_files_bad:
            errors.append(
                f"file-term index does not bracket {n_files_bad} files"
            )

    return {"ok": not errors, "errors": errors, "checks": checks}
