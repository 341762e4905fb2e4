"""Round-3 regression tests for the advisor's findings (ADVICE.md r2):

1. empty tombstone set (delete_by_query matching 0 docs) must not
   crash the WAND kernels — deleted_ids returns None when empty and
   _in_sorted guards size==0.
2. check_index passes on a purged index (sparse, non-dense doc_ids).
3. span_first / bm25f_topk / term_vector exclude tombstoned docs,
   same as search/match_count.
4. config-less compact() inherits analyzer, block size and shard count
   from the deltas' stats.json instead of stamping BuildConfig defaults.
5. opening a wrong-format index raises a clear 'rebuild required'
   error, not a missing-column AnalysisException.
"""

import json
import os

import numpy as np
import pytest


def _texts():
    return [
        "getData parse json stream",
        "parse html tokens fast",
        "json stream window agg",
        "fast window token parse",
        "stream stream stream pipe",
        "alpha beta gamma delta",
        "token json window",
        "pipe fittings and joins",
    ]


@pytest.fixture(scope="module")
def small_ix(spark, tmp_path_factory):
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.reader import SparkIndex

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_texts())],
        "doc_id long, content string",
    )
    out = str(tmp_path_factory.mktemp("advix") / "ix")
    IndexBuilder(num_shards=2, block_size=4).build(
        docs, out, id_col="doc_id"
    )
    return SparkIndex(spark, out), out


def test_in_sorted_empty_array():
    from lucille_spark.exec_wand import _in_sorted

    vals = np.array([1, 5, 9], dtype=np.int64)
    mask = _in_sorted(vals, np.array([], dtype=np.int64))
    assert mask.dtype == bool and not mask.any()


def test_empty_delete_set_wand_still_serves(spark, tmp_path):
    """delete_by_query matching nothing writes an empty deletes/;
    both deleted_ids (None) and a subsequent WAND search must work."""
    from lucille_spark.exec_wand import WandExecutor
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_by_query
    from lucille_spark.index.reader import SparkIndex

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_texts())],
        "doc_id long, content string",
    )
    out = str(tmp_path / "ix")
    IndexBuilder(num_shards=2, block_size=4).build(
        docs, out, id_col="doc_id"
    )
    ix = SparkIndex(spark, out)
    n = delete_by_query(ix, "zzzzz_not_present")
    assert n == 0
    assert ix.deleted_ids is None  # empty set == no deletes
    got = WandExecutor(ix).search("json AND stream", k=5).collect()
    assert {r["doc_id"] for r in got} == {0, 2}
    many = WandExecutor(ix).search_many({"q": "parse"}, k=5).collect()
    assert len(many) == 3


def test_fsck_green_on_purged_index(spark, tmp_path):
    """purge_deletes keeps original doc_ids (sparse); fsck must not
    flag the density gap as corruption."""
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.check import check_index
    from lucille_spark.index.maintenance import delete_docs, purge_deletes

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_texts())],
        "doc_id long, content string",
    )
    out = str(tmp_path / "ix")
    IndexBuilder(num_shards=2, block_size=4).build(
        docs, out, id_col="doc_id"
    )
    delete_docs(spark, out, [0, 3, 5])
    purged = str(tmp_path / "purged")
    purge_deletes(spark, out, purged)
    rep = check_index(spark, purged)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["doc_ids_dense"] is False  # informational


def test_postings_helpers_exclude_tombstones(spark, tmp_path):
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.index.reader import SparkIndex
    from lucille_spark.search_features import (
        bm25f_topk,
        span_first,
        term_vector,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_texts())],
        "doc_id long, content string",
    )
    out = str(tmp_path / "ix")
    IndexBuilder(num_shards=2, block_size=4).build(
        docs, out, id_col="doc_id"
    )
    dead = [2, 4]
    delete_docs(spark, out, dead)
    ix = SparkIndex(spark, out)

    sf = {r["doc_id"] for r in span_first(ix, "stream", end=4).collect()}
    assert sf and not (sf & set(dead))

    bf = {
        r["doc_id"]
        for r in bm25f_topk(ix, "json stream", {"content": 1.0}).collect()
    }
    assert bf and not (bf & set(dead))

    assert term_vector(ix, 2).count() == 0  # tombstoned doc: empty
    assert term_vector(ix, 0).count() > 0


def test_compact_inherits_delta_analyzer(spark, tmp_path):
    """compact(config=None) must carry the deltas' analyzer (code)
    into the compacted stats.json, not BuildConfig's default."""
    from lucille_spark.fixtures import DOCS_SCHEMA, generate_pdf
    from lucille_spark.index.builder import BuildConfig
    from lucille_spark.streaming import IncrementalIndexer, compact

    in_dir = str(tmp_path / "in")
    ix_dir = str(tmp_path / "ix")
    os.makedirs(in_dir)
    pdf = generate_pdf(40, seed=7)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    ixr = IncrementalIndexer(
        ix_dir,
        config=BuildConfig(num_shards=2, block_size=16, analyzer="code"),
    )
    q = ixr.start(spark, in_dir, DOCS_SCHEMA, available_now=True)
    q.awaitTermination(120)

    out = str(tmp_path / "compacted")
    stats = compact(spark, ix_dir, out)  # config=None
    assert stats["analyzer"] == "code"
    on_disk = json.loads(
        open(os.path.join(out, "stats.json")).read()
    )
    assert on_disk["analyzer"] == "code"


def test_wrong_format_raises_clear_error(spark, tmp_path, small_ix):
    import shutil

    from lucille_spark.index.reader import SparkIndex

    _, src = small_ix
    bad = str(tmp_path / "oldix")
    shutil.copytree(src, bad)
    stats = json.loads(open(os.path.join(bad, "stats.json")).read())
    stats["format"] = 3
    open(os.path.join(bad, "stats.json"), "w").write(json.dumps(stats))
    with pytest.raises(ValueError, match="rebuild"):
        SparkIndex(spark, bad)
