"""Searcher facade: thin delegation over the gated implementations —
results identical to calling the pieces directly."""

import pytest


@pytest.fixture(scope="module")
def searcher(spark, unit_index):
    from lucille_spark.searcher import Searcher

    ix, oracle, _ = unit_index
    return Searcher(spark, ix.dir, executor="wand", cache=False), oracle


def test_search_matches_oracle(searcher):
    s, oracle = searcher
    rows = s.search("cats AND dogs", k=10).collect()
    got = [(r["doc_id"], round(r["score"], 9)) for r in rows]
    assert got == [
        (int(d), round(float(x), 9))
        for d, x in oracle.search("cats AND dogs", k=10)
    ]


def test_count_and_facets(searcher):
    s, oracle = searcher
    assert s.count("cats dogs") == len(oracle.search("cats dogs", k=None))
    fs = s.facets("cats", col="lang").collect()
    assert sum(r["n_docs"] for r in fs) == len(
        oracle.search("cats", k=None)
    )


def test_paging_walks_the_order(searcher):
    s, oracle = searcher
    p1 = s.page("cats dogs", page_size=5).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = s.page("cats dogs", page_size=5, cursor=cur).collect()
    all10 = [r["doc_id"] for r in p1] + [r["doc_id"] for r in p2]
    expected = [d for d, _ in oracle.search("cats dogs", k=10)]
    assert all10 == expected


def test_suggest_and_explain(searcher):
    s, _ = searcher
    sug = s.suggest("catz", max_dist=1).collect()
    assert any(r["suggestion"] == "cats" for r in sug)
    info = s.explain("cats AND NOT dogs")
    assert info["n_terms"] == 2 and info["needs_universe"] is False


def test_bad_executor_rejected(spark, unit_index):
    from lucille_spark.searcher import Searcher

    ix, _, _ = unit_index
    with pytest.raises(ValueError):
        Searcher(spark, ix.dir, executor="nope")


def test_facade_wave14_endpoints(searcher):
    """New facade methods delegate to the gated implementations."""
    s, _ = searcher
    v = s.validate("cats AND dogs")
    assert v["valid"] and v["plan"]
    assert s.validate("cats AND (")["valid"] is False

    comp = s.complete("c", 3).collect()
    assert comp and all(r.suggestion.startswith("c") for r in comp)

    sg = s.suggest_es({"fix": {"text": "catz", "term": {}},
                       "auto": {"prefix": "d", "completion": {}}})
    assert set(sg) == {"fix", "auto"}
    assert sg["fix"].columns == ["suggestion", "dist", "df"]

    ag = s.aggs_es({"n": {"value_count": {"field": "doc_len"}}},
                   query={"match": {"content": "cats"}})
    assert ag["n"].collect()[0]["value_count"] == s.count("cats")

    ms = s.msearch_es([{"match": {"content": "cats"}},
                       {"match": {"content": "dogs"}}], k=3)
    got = {r.query_id for r in ms.collect()}
    assert got == {"q0", "q1"}


def test_request_cache_hits_and_identity(spark, unit_index):
    from lucille_spark.searcher import Searcher

    ix = unit_index[0]
    s = Searcher(spark, ix.dir, cache=False)
    s.enable_request_cache(max_entries=2)
    a = s.search("cat AND ocean", k=5).collect()
    b = s.search("cat AND ocean", k=5).collect()
    assert a == b
    st = s.request_cache_stats()
    assert (st["hits"], st["misses"]) == (1, 1)
    # different k is a different entry
    s.search("cat AND ocean", k=3).collect()
    assert s.request_cache_stats()["misses"] == 2
    # LRU bound of 2: a third distinct key evicts the oldest
    s.search("fish", k=5).collect()
    assert s.request_cache_stats()["entries"] == 2
    # empty result pages cache fine
    s.enable_request_cache()
    e1 = s.search("zzzznothing", k=5).collect()
    e2 = s.search("zzzznothing", k=5).collect()
    assert e1 == e2 == []
    # clear drops entries
    s.clear_request_cache()
    assert s.request_cache_stats()["entries"] == 0


def test_request_cache_skips_parameterized_calls(spark, unit_index):
    from lucille_spark.searcher import Searcher

    ix = unit_index[0]
    s = Searcher(spark, ix.dir, cache=False)
    s.enable_request_cache()
    s.search("cat", k=5, synonyms={"cat": ("feline",)}).collect()
    # synonym calls bypass the cache entirely
    assert s.request_cache_stats() == {
        "enabled": True, "entries": 0, "hits": 0, "misses": 0,
    }


def test_warmup_failure_logged_not_raised(spark, unit_index, monkeypatch,
                                          caplog):
    """A failing warmup leaves the Searcher open and logs one warning
    per executor."""
    import logging

    from lucille_spark.index.reader import SparkIndex
    from lucille_spark.searcher import Searcher

    def boom(self, n=2):
        raise RuntimeError("no terms")

    monkeypatch.setattr(SparkIndex, "sample_terms", boom)
    ix, _, _ = unit_index
    with caplog.at_level(logging.WARNING):
        s = Searcher(spark, ix.dir, cache=False, warm=True)
    warned = sorted(
        r.name for r in caplog.records
        if r.levelno == logging.WARNING and "warmup failed" in r.message
    )
    assert warned == ["lucille_spark.exec_df", "lucille_spark.exec_wand"]
    assert s.count("cats") > 0
