"""Embedded serving (LocalSearcher): zero-Spark-job queries must be
rank-identical to the distributed WAND executor on every query
shape — same plan, same kernel, so equality is the contract."""

import pytest

from lucille_spark.local_serve import LocalSearcher

SHAPES = [
    "spark",
    "def AND parser AND query",
    "spark window table",
    '"def parser"',
    "parser AND (query OR class) AND NOT stream",
    "par*",
    "parsr~1",
    "lang:py AND spark",
    "pa?ser",
    "[parser TO query]",
]


@pytest.fixture(scope="module")
def local(spark, unit_index):
    ix, _, _ = unit_index
    return LocalSearcher(spark, ix.dir)


@pytest.mark.parametrize("q", SHAPES)
def test_rank_identical_to_wand(spark, unit_index, local, q):
    from lucille_spark.exec_wand import WandExecutor

    ix, _, _ = unit_index
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in WandExecutor(ix).search(q, k=10).collect()
    ]
    got = [
        (int(r.doc_id), round(float(r.score), 6))
        for r in local.search(q, k=10).itertuples()
    ]
    assert got == want, q


def test_no_spark_jobs_per_query(spark, local):
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    local.search("spark AND batch", k=5)
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # embedded: zero jobs submitted


def test_search_many_shape(spark, local):
    out = local.search_many(["spark", "parser"], k=3)
    assert list(out.columns) == ["query_id", "doc_id", "score"]
    assert set(out["query_id"]) == {"q0", "q1"}
    assert len(out) == 6


def test_tombstones_respected(spark, unit_index, tmp_path):
    import shutil

    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.index.reader import SparkIndex

    ix, _, _ = unit_index
    dup = str(tmp_path / "ixdel")
    shutil.copytree(ix.dir, dup)
    ix2 = SparkIndex(spark, dup)
    top = LocalSearcher(spark, dup).search("spark", k=3)
    victim = int(top.iloc[0]["doc_id"])
    delete_docs(spark, dup, [victim])
    after = LocalSearcher(spark, dup).search("spark", k=3)
    assert victim not in set(after["doc_id"].astype(int))


@pytest.mark.parametrize("q", SHAPES)
def test_predecode_rank_identical(spark, unit_index, q):
    from lucille_spark.exec_wand import WandExecutor

    ix, _, _ = unit_index
    hot = LocalSearcher(spark, ix.dir, predecode=True)
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in WandExecutor(ix).search(q, k=10).collect()
    ]
    got = [
        (int(r.doc_id), round(float(r.score), 6))
        for r in hot.search(q, k=10).itertuples()
    ]
    assert got == want, q


def test_searcher_embedded_front_door(spark, unit_index):
    from lucille_spark.searcher import Searcher

    ix, _, _ = unit_index
    s = Searcher(spark, ix.dir, cache=False)
    hot = s.embedded()
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in s.search("spark window", k=5).collect()
    ]
    got = [
        (int(r.doc_id), round(float(r.score), 6))
        for r in hot.search("spark window", k=5).itertuples()
    ]
    assert got == want


@pytest.mark.parametrize("predecode", [True, False])
def test_searcher_embedded_shares_reader(spark, unit_index, tmp_path, predecode):
    """embedded() reuses the Searcher's open SparkIndex (no second
    open), answers exactly like a standalone LocalSearcher, leaves the
    Searcher's pinned tables unmaterialized, and a refresh_deletes
    through the Searcher reaches the sidecar."""
    import shutil

    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.searcher import Searcher

    ix, _, _ = unit_index
    dup = str(tmp_path / f"ixshare_{predecode}")
    shutil.copytree(ix.dir, dup)

    def cached_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    s = Searcher(spark, dup)  # cache=True: tables marked for caching
    before = cached_rdds()
    hot = s.embedded(predecode=predecode)
    assert hot.ix is s.index
    # collecting segments/doclens did not populate Spark's cache
    assert cached_rdds() == before
    alone = LocalSearcher(spark, dup, predecode=predecode)
    for q in SHAPES:
        a = hot.search(q, k=10)
        b = alone.search(q, k=10)
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), q
        assert a["score"].tolist() == b["score"].tolist(), q

    victim = int(hot.search("spark", k=3).iloc[0]["doc_id"])
    delete_docs(spark, dup, [victim])
    s.index.refresh_deletes()  # through the Searcher's side
    assert victim not in set(hot.search("spark", k=3)["doc_id"].astype(int))
    assert victim not in {r["doc_id"] for r in s.search("spark", k=3).collect()}


@pytest.mark.parametrize("q", ['"def parser"', "spark", "par*"])
def test_predecode_full_matches_lazy(spark, unit_index, q):
    """predecode='full' (eager positions) and predecode=True (lazy
    positions via ShardData.pos_loader) must agree exactly."""
    ix, _, _ = unit_index
    lazy = LocalSearcher(spark, ix.dir, predecode=True)
    full = LocalSearcher(spark, ix.dir, predecode="full")
    a = [
        (int(r.doc_id), float(r.score))
        for r in lazy.search(q, k=10).itertuples()
    ]
    b = [
        (int(r.doc_id), float(r.score))
        for r in full.search(q, k=10).itertuples()
    ]
    assert a == b, q
    # lazy mode actually deferred: positions only on phrase terms
    n_pos = sum(
        1 for p in lazy._sd.postings.values() if p.has_positions()
    )
    assert n_pos <= (2 if q.startswith('"') else 0)


@pytest.mark.parametrize("order", ["refresh_first", "phrase_first"])
def test_lazy_positions_vs_refresh_deletes(
    spark, unit_index, tmp_path, order
):
    """Tombstones must be honored by lazily-loaded positions in both
    orderings: posting loaded after refresh (masks with the current
    delete set) and loaded before refresh (masked in place)."""
    import shutil

    from lucille_spark.index.maintenance import delete_docs

    ix, _, _ = unit_index
    dup = str(tmp_path / f"ixlazy_{order}")
    shutil.copytree(ix.dir, dup)
    hot = LocalSearcher(spark, dup, predecode=True)
    q = '"def parser"'
    if order == "phrase_first":
        hot.search(q, k=5)  # forces the lazy positions load
    base = hot.search(q, k=5)
    assert len(base), "fixture phrase must match"
    victim = int(base.iloc[0]["doc_id"])
    delete_docs(spark, dup, [victim])
    hot.refresh_deletes()
    after = hot.search(q, k=5)
    assert victim not in set(after["doc_id"].astype(int))
    # parity with a cold searcher over the same tombstoned index
    cold = LocalSearcher(spark, dup).search(q, k=5)
    assert [
        (int(r.doc_id), round(float(r.score), 9))
        for r in after.itertuples()
    ] == [
        (int(r.doc_id), round(float(r.score), 9))
        for r in cold.itertuples()
    ]


def test_refresh_deletes_hot(spark, unit_index, tmp_path):
    import shutil

    from lucille_spark.index.maintenance import delete_docs

    ix, _, _ = unit_index
    dup = str(tmp_path / "ixhot")
    shutil.copytree(ix.dir, dup)
    hot = LocalSearcher(spark, dup, predecode=True)
    top = hot.search("spark", k=3)
    victim = int(top.iloc[0]["doc_id"])
    delete_docs(spark, dup, [victim])
    # not yet visible (resident arrays), then visible after refresh
    assert victim in set(
        hot.search("spark", k=3)["doc_id"].astype(int)
    )
    hot.refresh_deletes()
    after = hot.search("spark", k=3)
    assert victim not in set(after["doc_id"].astype(int))
    # and the refreshed embedded ranks still match the cluster path
    from lucille_spark.exec_wand import WandExecutor
    from lucille_spark.index.reader import SparkIndex

    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in WandExecutor(SparkIndex(spark, dup))
        .search("spark", k=3)
        .collect()
    ]
    got = [
        (int(r.doc_id), round(float(r.score), 6))
        for r in after.itertuples()
    ]
    assert got == want
