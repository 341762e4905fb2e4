"""Regression tests for the round-4 ADVICE items fixed in round 5.

1. grep_many chunked verification (ops/code.py:_VERIFY_CHUNK) —
   covered in tests/test_grep_many.py::
   test_chunked_verify_large_pattern_dict.
2. Plan-cache invalidation contract — plan_version is the single
   staleness token; refresh_deletes() must also drop the reader's
   per-file-set pruned-DataFrame cache.
3. lint_oracles scale-awareness — defaults to the largest local sf.
4. Reader DataFrame memoization — `segments` must not re-read
   parquet per access (was ~90 ms/query on the WAND cold path).
"""

import numpy as np


def test_refresh_deletes_clears_pruned_cache(spark, unit_index):
    ix, _, _ = unit_index
    # populate the pruned cache through the normal query path
    from lucille_spark.exec_df import DataFrameExecutor

    DataFrameExecutor(ix).search("spark", k=1).collect()
    before = ix.plan_version
    ix._pruned_cache.put(("probe", ("x",)), "sentinel")
    ix.refresh_deletes()
    assert ix.plan_version == before + 1
    assert len(ix._pruned_cache) == 0


def test_segments_dataframe_memoized(spark, unit_index):
    ix, _, _ = unit_index
    assert ix.segments is ix.segments


def test_flat_pruned_cache_reuses_dataframe(spark, unit_index):
    ix, _, _ = unit_index
    if ix._fidx is None or "flat" not in ix._fidx:
        return  # index built without a file manifest: nothing to prune
    a = ix.flat_for(["spark"])
    b = ix.flat_for(["spark"])
    # same file set -> the identical cached DataFrame object (or the
    # un-pruned full table if selection covers every file)
    assert a is b


def test_lint_largest_sf_default(tmp_path):
    from scripts.lint_oracles import _largest_sf

    for d in ("sf0.001", "sf0.01", "sf0.1"):
        (tmp_path / d).mkdir()
    assert _largest_sf(str(tmp_path)).endswith("sf0.1")


def test_sample_terms_plain(spark, unit_index):
    ix, _, _ = unit_index
    ts = ix.sample_terms(2)
    assert 1 <= len(ts) <= 2
    for t in ts:
        assert t.isalnum() and t == t.lower()
