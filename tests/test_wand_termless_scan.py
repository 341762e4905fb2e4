"""A WAND query that touches no term reads no segment block, also on
a reader that skips file pruning (`SparkIndex(cache=True)`), and the
Spark path's block counters agree with the embedded searcher's."""

import numpy as np
import pytest

import lucille_spark.exec_wand as W
from lucille_spark.esdsl import profile_es
from lucille_spark.index.reader import SparkIndex
from lucille_spark.local_serve import LocalSearcher


@pytest.fixture(scope="module")
def cached(spark, unit_index):
    ix, _, _ = unit_index
    reader = SparkIndex(spark, ix.dir, cache=True)
    yield reader
    reader.segments.unpersist()


@pytest.mark.parametrize("q", ["[* TO *]", "lang:python"])
def test_termless_query_reads_no_blocks(unit_index, cached, q):
    ix, oracle, _ = unit_index
    want = oracle.search(q, k=10)
    assert want
    for reader in (cached, ix):
        rows = W.WandExecutor(reader).search(q, k=10).collect()
        assert [r["doc_id"] for r in rows] == [d for d, _ in want], q
        assert np.allclose(
            [r["score"] for r in rows], [s for _, s in want],
            rtol=0, atol=1e-9,
        ), q
    blocks = profile_es(cached, q, k=10, executor="wand")["wand_blocks"]
    assert blocks == {"total_blocks": 0, "decoded_blocks": 0}, q


def test_spark_block_counters_match_local(spark, unit_index, cached):
    """The accumulators of a Spark-path OR count the same blocks as
    the embedded per-query decode of the same index."""
    ix, _, _ = unit_index
    q = "import OR cats"
    W.reset_prune_stats()
    LocalSearcher(spark, ix.dir, predecode=False).search(q, k=10)
    local = W.get_prune_stats()["total_blocks"]
    blocks = profile_es(cached, q, k=10, executor="wand")["wand_blocks"]
    assert blocks["total_blocks"] == local > 0
    assert 0 < blocks["decoded_blocks"] <= blocks["total_blocks"]
