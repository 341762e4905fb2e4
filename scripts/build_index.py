"""CLI: build the inverted index over a docs table.

spark-submit --py-files lucille_spark.zip scripts/build_index.py \
    --input /path/docs.parquet --output /path/index \
    [--iceberg-table db.docs] [--content-col content] [--id-col doc_id] \
    [--shards 64] [--block-size 128] [--no-resume]

Input is either a parquet path or an Iceberg table name (the Iceberg
runtime jar must be on the cluster; the sandbox tests the parquet
path only — SURVEY.md §7.0). Package with:
    cd <repo> && zip -r lucille_spark.zip lucille_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--iceberg-table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--order-cols", default="repo,path,commit")
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument(
        "--analyzer",
        default="standard",
        help="standard | code | stop | s_stem | english "
        "(recorded in stats.json; query CLIs pick it up)",
    )
    ap.add_argument(
        "--indexed-cols",
        default="",
        help="comma list of extra text columns to index as "
        "Lucene-style fields (per-field norms)",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "json", "csv", "orc", "text"],
        help="--input source format. json = newline-delimited; csv "
        "assumes a header row; text = one doc per line (columns: "
        "value) — pair with --content-col value",
    )
    ap.add_argument(
        "--iceberg-start-snapshot",
        help="incremental ingest: read only rows APPENDED after this "
        "snapshot id (Spark 'start-snapshot-id' read option) — build "
        "the result as a delta via streaming.IncrementalIndexer's "
        "layout and serve the union, instead of re-indexing the "
        "whole table each run",
    )
    ap.add_argument(
        "--iceberg-end-snapshot",
        help="upper bound for --iceberg-start-snapshot ('end-snapshot-id')",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucille_spark.index import IndexBuilder

    spark = SparkSession.builder.appName("lucille-build-index").getOrCreate()
    if args.iceberg_table:
        reader = spark.read
        if args.iceberg_start_snapshot:
            # Iceberg incremental append scan: only files added in
            # (start, end] snapshots are read — at 10^12 files this
            # is the only sane re-index cadence (jar required on the
            # cluster; untestable in this sandbox, parquet path is)
            reader = reader.option(
                "start-snapshot-id", args.iceberg_start_snapshot
            )
            if args.iceberg_end_snapshot:
                reader = reader.option(
                    "end-snapshot-id", args.iceberg_end_snapshot
                )
            reader = reader.format("iceberg")
            docs = reader.load(args.iceberg_table)
        else:
            docs = reader.table(args.iceberg_table)
    elif args.input:
        if args.format == "csv":
            docs = spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(args.input)
        else:
            docs = getattr(spark.read, args.format)(args.input)
    else:
        ap.error("one of --input / --iceberg-table required")

    t0 = time.time()
    stats = IndexBuilder(
        num_shards=args.shards,
        block_size=args.block_size,
        salt_buckets=args.salt_buckets,
        analyzer=args.analyzer,
    ).build(
        docs,
        args.output,
        content_col=args.content_col,
        id_col=args.id_col,
        order_cols=tuple(args.order_cols.split(",")),
        resume=not args.no_resume,
        indexed_cols=tuple(
            c for c in args.indexed_cols.split(",") if c
        ),
    )
    secs = time.time() - t0
    print(
        json.dumps(
            {
                **stats,
                "build_sec": round(secs, 2),
                "files_per_sec": round(stats["n_docs"] / secs, 1),
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
