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


@pytest.fixture(scope="module")
def hot(spark, unit_index):
    ix, _, _ = unit_index
    return LocalSearcher(spark, ix.dir, predecode=True)


@pytest.fixture(params=["per_query", "predecode"])
def either(request, local, hot):
    """The module's LocalSearcher in each mode."""
    return local if request.param == "per_query" else hot


# (query, k): a normal top-k, an empty result, k=0 and k above the hits
FRAME_CASES = [
    ("spark", 10),
    ("zzzqx", 10),
    ("spark", 0),
    ('"def parser"', 1000),
]


@pytest.mark.parametrize("q,k", FRAME_CASES)
def test_search_frame_matches_dict_constructor(either, q, k):
    """search's frame equals the public dict constructor over the same
    top-k arrays: values, dtypes, column order and RangeIndex."""
    import pandas as pd

    ids, scores = either._top(q, k, None)
    want = pd.DataFrame({"doc_id": ids, "score": scores}, copy=False)
    got = either.search(q, k=k)
    pd.testing.assert_frame_equal(
        got, want, check_index_type=True, check_column_type=True
    )
    assert type(got.index) is pd.RangeIndex
    assert list(got.dtypes.astype(str)) == ["int64", "float64"]
    if k == 0 or q == "zzzqx":
        assert len(got) == 0
    else:
        assert 0 < len(got) <= k


def test_hits_frame_aliases_its_arrays():
    """No copy: the frame's columns are the arrays handed in, as with
    the dict constructor's copy=False, and frames do not share a
    mutable column Index."""
    import numpy as np

    from lucille_spark.local_serve import _hits_frame

    ids, scores = np.arange(5, dtype=np.int64), np.linspace(1, 0, 5)
    out = _hits_frame(ids, scores)
    assert np.shares_memory(out["doc_id"].to_numpy(), ids)
    assert np.shares_memory(out["score"].to_numpy(), scores)
    out.columns.name = "renamed"
    assert _hits_frame(ids, scores).columns.name is None


@pytest.mark.parametrize(
    "queries",
    [
        ["spark", "zzzqx", "def AND parser AND query", "par*", '"def parser"'],
        {"a": "spark window", "b": "zzzqx", "c": "lang:py AND spark"},
        [],
    ],
)
def test_search_many_matches_per_query_concat(either, queries):
    """One batch frame == the per-query frames with a query_id column
    inserted, concatenated (the frame search_many used to build)."""
    import pandas as pd

    got = either.search_many(queries, k=3)
    qmap = (
        queries if isinstance(queries, dict)
        else {f"q{i}": q for i, q in enumerate(queries)}
    )
    frames = []
    for qid, q in qmap.items():
        r = either.search(q, k=3)
        r.insert(0, "query_id", qid)
        frames.append(r)
    if not frames:  # concat refuses an empty list: an empty batch frame
        assert list(got.columns) == ["query_id", "doc_id", "score"]
        assert len(got) == 0
        return
    want = pd.concat(frames, ignore_index=True)
    pd.testing.assert_frame_equal(
        got, want, check_index_type=True, check_column_type=True
    )


def test_first_phrase_after_refresh_matches_oracle(
    spark, unit_index, tmp_path
):
    """A phrase whose terms are resident without positions, first run
    after a delete refresh: the lazy load takes the term's row run of
    the resident BlockTable, masks it with the refreshed tombstones and
    ranks like the oracle with those docs removed."""
    import shutil

    import numpy as np

    from lucille_spark.index.maintenance import delete_docs

    ix, oracle, _ = unit_index
    q = '"def parser"'
    dup = str(tmp_path / "ixphrase")
    shutil.copytree(ix.dir, dup)
    hot = LocalSearcher(spark, dup, predecode=True)
    assert not hasattr(hot, "seg_pdf")  # blocks held once, as a BlockTable
    hot.search("def parser", k=5)  # terms used, positions not loaded
    dead = [d for d, _ in oracle.search(q, k=None)][:2]
    assert dead, "fixture phrase must match"
    delete_docs(spark, dup, dead)
    hot.refresh_deletes()
    assert not any(
        hot._sd.postings[t].has_positions() for t in ("def", "parser")
    )
    got = hot.search(q, k=10)
    assert all(hot._sd.postings[t].has_positions() for t in ("def", "parser"))
    want = [(d, s) for d, s in oracle.search(q, k=None) if d not in dead][:10]
    assert want, "phrase must still match after the deletes"
    assert got["doc_id"].tolist() == [d for d, _ in want]
    assert np.allclose(
        got["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-9
    )


def test_search_looks_up_traced_functions_at_call_time(
    monkeypatch, local, hot
):
    """perfbench's tracer wraps these module attributes; a module-scope
    `from ... import` in local_serve would bypass the wrappers and
    blank the per-layer metrics, so each must see a search call."""
    import lucille_spark.eval_local as eval_mod
    import lucille_spark.exec_wand as wand_mod
    import lucille_spark.pushdown as pushdown_mod

    calls = {}

    def counting(mod, name):
        fn = getattr(mod, name)

        def wrapper(*a, **kw):
            calls[name] = calls.get(name, 0) + 1
            return fn(*a, **kw)

        monkeypatch.setattr(mod, name, wrapper)

    counting(eval_mod, "evaluate")
    counting(eval_mod, "top_k")
    counting(pushdown_mod, "file_prune_bounds")
    counting(wand_mod, "_make_kernel")
    hot.search("spark AND window", k=5)
    # evaluate recurses through its module global: one call per node
    assert set(calls) == {"evaluate", "top_k"}
    calls.clear()
    local.search("spark AND window", k=5)
    assert calls == {"file_prune_bounds": 1, "_make_kernel": 1}
