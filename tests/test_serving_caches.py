"""The serving caches (both executors' plan caches, the reader's
pruned-frame cache, the Searcher's request cache) all sit on the one
locked `lru.LRUCache`: concurrent file-pruned queries answer exactly
like sequential ones, evicted pruned frames take their temp views
with them, the counters surface in `Searcher.stats()`, and a delete
refresh reaches every cache. The LocalSearcher half checks that a
delete refresh publishes its masked postings atomically."""

import shutil
import threading

import pytest

N_SETS = 80  # distinct flat-file sets, more than PRUNED_CACHE_MAX (64)


@pytest.fixture(scope="module")
def many_files(spark, unit_corpus, tmp_path_factory):
    """Unit corpus split into many term-contiguous posting files, and
    one single-term query per distinct pruned file set."""
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.reader import SparkIndex

    out = str(tmp_path_factory.mktemp("lru") / "ix")
    IndexBuilder(
        num_shards=2, block_size=32, max_records_per_file=120
    ).build(spark.createDataFrame(unit_corpus), out)
    ix = SparkIndex(spark, out, cache=False)
    fidx = ix._fidx["flat"]
    by_set = {}
    for t in ix.sample_terms(200):
        sel = tuple(fidx.select([t], []))
        if 0 < len(sel) < len(fidx.entries):
            by_set.setdefault(sel, t)
    queries = list(by_set.values())
    assert len(queries) >= N_SETS
    return out, queries[:N_SETS]


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _flat_views(spark):
    return {
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("lucille_flat_")
    }


def test_concurrent_pruned_queries_match_sequential(spark, many_files):
    from lucille_spark.searcher import Searcher

    d, queries = many_files
    seq = Searcher(spark, d, cache=False, executor="df")
    want = {q: _rows(seq.search(q, k=5)) for q in queries}

    s = Searcher(spark, d, cache=False, executor="df")
    got, errors = {}, []

    def worker(i):
        try:
            # 16 threads x 20 queries from staggered offsets: all 80
            # file sets, each one inserted, hit and evicted while
            # other threads do the same
            for j in range(20):
                q = queries[(i * 5 + j) % len(queries)]
                rows = _rows(s.search(q, k=5))
                if rows != want[q]:
                    got[q] = rows
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert not got
    caches = s.stats()["caches"]
    assert caches["pruned"]["entries"] <= s.index.PRUNED_CACHE_MAX
    assert caches["pruned"]["evictions"] > 0
    assert caches["plan_df"]["entries"] <= s._df_ex.PLAN_CACHE_MAX


def test_evicted_frames_drop_their_temp_views(spark, many_files, monkeypatch):
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.index.reader import SparkIndex

    d, queries = many_files
    monkeypatch.setattr(SparkIndex, "PRUNED_CACHE_MAX", 4)
    ex = DataFrameExecutor(SparkIndex(spark, d, cache=False))
    before = _flat_views(spark)
    first = ex.search(queries[0], k=5)
    first_rows = _rows(first)
    for q in queries[1:30]:
        ex.search(q, k=5).collect()
        # at most the 4 cached frames' views are registered
        assert len(_flat_views(spark) - before) <= 4
    assert ex.ix._pruned_cache.stats()["evictions"] == 30 - 4
    # the plan cached before its frame (and view) left still runs
    assert ex.search(queries[0], k=5) is first
    assert _rows(first) == first_rows
    # refresh_deletes' clear drops the remaining views too
    ex.ix.refresh_deletes()
    assert _flat_views(spark) - before == set()


def test_stats_report_every_cache(spark, many_files):
    from lucille_spark.searcher import Searcher

    d, queries = many_files
    q1, q2 = queries[0], queries[1]
    s = Searcher(spark, d, cache=False, executor="df")
    assert set(s.stats()["caches"]) == {"plan_df", "plan_wand", "pruned"}
    s.search(q1, k=5).collect()
    s.search(q1, k=5).collect()  # plan-cache hit: no pruning lookup
    s.search(q1, k=3).collect()  # new plan, same pruned frame
    s.search(q2, k=5).collect()
    caches = s.stats()["caches"]
    assert caches["plan_df"] == {
        "entries": 3, "hits": 1, "misses": 3, "evictions": 0,
    }
    assert caches["pruned"] == {
        "entries": 2, "hits": 1, "misses": 2, "evictions": 0,
    }
    assert caches["plan_wand"] == {
        "entries": 0, "hits": 0, "misses": 0, "evictions": 0,
    }

    s.enable_request_cache(max_entries=1)
    s.search(q1, k=5).collect()
    s.search(q1, k=5).collect()
    s.search(q2, k=5).collect()  # evicts q1's page
    assert s.stats()["caches"]["request"] == {
        "entries": 1, "hits": 1, "misses": 2, "evictions": 1,
    }
    assert s.request_cache_stats() == {
        "enabled": True, "entries": 1, "hits": 1, "misses": 2,
    }

    w = Searcher(spark, d, cache=False, executor="wand")
    w.search(q1, k=5).collect()
    w.search(q1, k=5).collect()
    caches = w.stats()["caches"]
    assert caches["plan_wand"] == {
        "entries": 1, "hits": 1, "misses": 1, "evictions": 0,
    }
    # the WAND plan prunes the segment table through the same cache
    assert caches["pruned"] == {
        "entries": 1, "hits": 0, "misses": 1, "evictions": 0,
    }


def test_request_cache_sees_delete_refresh(spark, unit_index, tmp_path):
    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.searcher import Searcher

    d = str(tmp_path / "ix")
    shutil.copytree(unit_index[0].dir, d)
    s = Searcher(spark, d, cache=False)
    s.enable_request_cache()
    before = [r["doc_id"] for r in s.search("spark", k=10).collect()]
    victim = before[0]
    delete_docs(spark, d, [victim])
    s.embedded().refresh_deletes()
    after = [r["doc_id"] for r in s.search("spark", k=10).collect()]
    assert victim not in after, "request cache served a stale page"
    assert s.request_cache_stats()["hits"] == 0


def test_delete_refresh_drops_replaced_deletes_view(spark, unit_index, tmp_path):
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.index.reader import SparkIndex

    d = str(tmp_path / "ix")
    shutil.copytree(unit_index[0].dir, d)
    ex = DataFrameExecutor(SparkIndex(spark, d, cache=False))

    def deletes_views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("lucille_deletes_")
        }

    before = deletes_views()
    victims = [r["doc_id"] for r in ex.search("spark", k=3).collect()]
    for victim in victims:
        delete_docs(spark, d, [victim])
        ex.ix.refresh_deletes()
        hits = {r["doc_id"] for r in ex.search("spark", k=10).collect()}
        assert victim not in hits
        # only the live tombstone frame keeps a view
        assert len(deletes_views() - before) == 1


def test_local_delete_refresh_is_atomic(spark, unit_index, tmp_path):
    """8 threads search a predecoded LocalSearcher while the main
    thread deletes docs in three rounds and refreshes after each: no
    search raises, and every search that starts after a refresh has
    returned excludes that refresh's tombstones."""
    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.local_serve import LocalSearcher

    from tests.test_local_serve import SHAPES

    d = str(tmp_path / "ix")
    shutil.copytree(unit_index[0].dir, d)
    ls = LocalSearcher(spark, d, predecode=True)
    ids = sorted(
        {int(x) for q in SHAPES for x in ls.search(q, k=50)["doc_id"]}
    )
    rounds = [ids[0::9], ids[1::9], ids[2::9]]
    dead = [frozenset()]  # ids every search starting now must exclude
    stop = threading.Event()
    errors, stale = [], []

    def searcher(i):
        n = 0
        while not stop.is_set():
            q = SHAPES[(i + n) % len(SHAPES)]
            n += 1
            must_exclude = dead[0]
            try:
                got = set(ls.search(q, k=50)["doc_id"].astype(int))
            except BaseException as e:  # noqa: BLE001 - reported below
                errors.append((q, e))
                return
            if got & must_exclude:
                stale.append((q, sorted(got & must_exclude)))

    threads = [threading.Thread(target=searcher, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    try:
        for victims in rounds:
            delete_docs(spark, d, victims)
            ls.refresh_deletes()
            dead[0] = dead[0] | frozenset(victims)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errors, errors[:3]
    assert not stale, stale[:3]
    for q in SHAPES:
        assert not set(ls.search(q, k=50)["doc_id"].astype(int)) & dead[0]
