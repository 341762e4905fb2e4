"""Small-file I/O that works on both POSIX paths and Hadoop
filesystem URIs (hdfs://, s3a://, file://, ...).

The index's bulk data moves through Spark readers/writers, which
handle URIs natively — but the manifest, stats.json, and _SUCCESS
probes are driver-side small files. With a remote --output those must
go through the Hadoop FileSystem API (spark._jvm), or build/resume
breaks on a real cluster (ADVICE r1). Paths without a scheme use
plain ``os`` — no JVM round-trip on the local fast path.

`file://` URIs deliberately take the Hadoop branch so the JVM code
path is unit-testable without HDFS/S3.

`index_writer` is the one DataFrame writer for every index table
(doclens, postings_flat, terms, segments, deletes): it fixes their
Parquet codec on the writer, not on the session.
"""

from __future__ import annotations

import os
from typing import Optional


# Parquet codec of the index tables, at parquet-mr's default level
# (sizes against Spark's default snappy: BENCH/BASELINE.md §3b).
INDEX_CODEC = "zstd"


def index_writer(df, mode: str = "overwrite"):
    """-> `df`'s DataFrameWriter for an index table: `mode`, pages
    compressed with INDEX_CODEC. The codec is a writer option, so the
    caller's `spark.sql.parquet.compression.codec` stays as it was.
    Readers need no setting: parquet records the codec per column
    chunk."""
    return df.write.mode(mode).option("compression", INDEX_CODEC)


def is_uri(path: str) -> bool:
    return "://" in path


def _fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(path: str, spark=None) -> bool:
    if not is_uri(path) or spark is None:
        return os.path.exists(path)
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def read_text(path: str, spark=None) -> str:
    if not is_uri(path) or spark is None:
        with open(path) as f:
            return f.read()
    fs, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        # py4j passes byte[] by value, so stream.read(buf) can't fill a
        # Python buffer — drain via commons-io (ships with Hadoop)
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def list_files(path: str, spark=None, suffix: str = ".parquet"):
    """Sorted list of regular files directly under `path` ending in
    `suffix` (non-recursive; absent dir -> []). Used to PIN a
    directory's contents at a point in time (ES PIT): parquet dirs
    like deletes/ only ever gain part files, so the pinned list is a
    stable snapshot no matter what lands later."""
    if not is_uri(path) or spark is None:
        if not os.path.isdir(path):
            return []
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(suffix)
            and os.path.isfile(os.path.join(path, f))
        )
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        if st.isFile():
            name = st.getPath().toString()
            if name.endswith(suffix):
                out.append(name)
    return sorted(out)


def write_text(path: str, text: str, spark=None) -> None:
    """Create/overwrite `path` with `text` (parents created)."""
    if not is_uri(path) or spark is None:
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    fs, p = _fs(spark, path)
    stream = fs.create(p, True)  # overwrite=True; creates parents
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
