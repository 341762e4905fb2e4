"""Every index table is written zstd-compressed, whichever operation
wrote it (build, delete, force-merge, purge, split, metadata update,
streaming compaction), without touching the session's own Parquet
codec; and every index-table write goes through `fsio.index_writer`."""

import glob
import os
import re

import pyarrow.parquet as pq
import pytest

SESSION_CODEC = "spark.sql.parquet.compression.codec"
TABLES = ("doclens", "postings_flat", "terms", "segments")


def codecs(table_dir: str) -> set:
    """Codec of every column chunk in every parquet file under
    `table_dir`, read from the footers."""
    out = set()
    files = glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            out.update(rg.column(j).compression for j in range(rg.num_columns))
    return out


def assert_zstd(index_dir: str, tables=TABLES) -> None:
    for t in tables:
        assert codecs(os.path.join(index_dir, t)) == {"ZSTD"}, (index_dir, t)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """-> (index dir, root tmp dir) of a small build with tombstones;
    the session codec is read before and after the build."""
    from lucille_spark.fixtures import generate_pdf
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_docs

    root = tmp_path_factory.mktemp("codec")
    out = str(root / "ix")
    before = spark.conf.get(SESSION_CODEC, None)
    IndexBuilder(num_shards=2, block_size=16).build(
        spark.createDataFrame(generate_pdf(60, seed=3)), out
    )
    assert spark.conf.get(SESSION_CODEC, None) == before
    delete_docs(spark, out, [1, 5, 8])
    return out, root


def test_build_and_deletes_are_zstd(built):
    ix_dir, _ = built
    assert_zstd(ix_dir, TABLES + ("deletes",))


def test_force_merge_is_zstd(spark, built):
    from lucille_spark.index.maintenance import force_merge

    ix_dir, root = built
    out = str(root / "merged")
    force_merge(spark, ix_dir, out)
    assert_zstd(out, TABLES + ("deletes",))


def test_purge_is_zstd(spark, built):
    from lucille_spark.index.maintenance import purge_deletes

    ix_dir, root = built
    out = str(root / "purged")
    purge_deletes(spark, ix_dir, out)
    assert_zstd(out)


def test_split_is_zstd(spark, built):
    from lucille_spark.index.maintenance import split_index

    ix_dir, root = built
    out = str(root / "split")
    split_index(spark, ix_dir, out, num_shards=3)
    assert_zstd(out)


def test_update_meta_is_zstd(spark, built):
    from lucille_spark.index.maintenance import update_meta

    ix_dir, root = built
    out = str(root / "meta")
    update_meta(
        spark, ix_dir, out,
        spark.createDataFrame([(0, "a"), (2, "b")], "doc_id long, tier string"),
    )
    assert_zstd(out)


def test_streaming_compaction_is_zstd(spark, tmp_path):
    from lucille_spark.fixtures import DOCS_SCHEMA, generate_pdf
    from lucille_spark.index.builder import BuildConfig
    from lucille_spark.streaming import IncrementalIndexer, compact

    in_dir, ix_dir = str(tmp_path / "in"), str(tmp_path / "ix")
    os.makedirs(in_dir)
    spark.createDataFrame(generate_pdf(40, seed=7)).coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    ixr = IncrementalIndexer(
        ix_dir, config=BuildConfig(num_shards=2, block_size=16)
    )
    ixr.start(spark, in_dir, DOCS_SCHEMA, available_now=True).awaitTermination(
        120
    )
    for d in ixr.delta_dirs(spark):
        assert_zstd(d)
    out = str(tmp_path / "compacted")
    compact(spark, ix_dir, out)
    assert_zstd(out)


# modules that write index tables, and the DataFrame writes in them
# that are not index tables (streaming's sessionize parquet sink)
WRITERS = {
    "index/builder.py": [],
    "index/maintenance.py": [],
    "streaming.py": ['batch_df.write.mode("append").parquet(out_dir)'],
}


def test_index_writes_go_through_index_writer():
    import lucille_spark

    root = os.path.dirname(lucille_spark.__file__)
    raw = re.compile(r"\.write(\.|$)")
    for mod, allowed in WRITERS.items():
        with open(os.path.join(root, mod)) as f:
            lines = [ln.strip() for ln in f]
        assert [ln for ln in lines if raw.search(ln)] == allowed, mod
        assert any("fsio.index_writer(" in ln for ln in lines), mod
