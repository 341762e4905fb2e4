"""The array-native shard kernel: per-term positions, pinned prune
counters, top_k edge cases, and rank identity of the embedded
serving paths with the oracle on every benchmark query shape."""

import shutil

import numpy as np
import pytest

import lucille_spark.exec_wand as W
from lucille_spark.eval_local import top_k
from lucille_spark.local_serve import LocalSearcher
from tests.blocks import segment_rows

# the seven perfbench shapes, hot and rare terms each
STREAM = [
    "import", "cats", "spark",
    "import AND cats", "spark AND parser AND query",
    "import OR def OR cats", "spark parser",
    '"import spark"', '"def parser"',
    "import AND NOT cats", "parser AND NOT spark",
    "imp*", "par*",
    "parsr~1", "imprt~1",
]

DELETED = list(range(0, 200, 9))


def test_top_k_nonpositive_k_is_empty():
    rng = np.random.default_rng(0)
    ids = np.arange(5000, dtype=np.int64)
    scores = rng.random(5000)
    for k in (0, -3):
        got_ids, got_sc = top_k(ids, scores, k)
        assert got_ids.size == 0 and got_sc.size == 0
        assert got_ids.dtype == np.int64 and got_sc.dtype == np.float64


def test_phrase_survives_a_term_without_positions():
    """One term's blocks store no positions; a phrase over two terms
    that have them must still match (positions are decided per term,
    not per decoded part)."""
    from tests.oracle import OracleIndex

    texts = [
        "the quick fox jumps", "quick fox lazy", "fox quick",
        "lazy dog", "a quick fox and a quick fox", "quick lazy fox",
    ]
    oracle = OracleIndex(
        [{"doc_id": i, "content": t} for i, t in enumerate(texts)]
    )
    seg = segment_rows(oracle.sd.postings, 2, no_positions={"lazy"})
    post = W.decode_postings(W.BlockTable.from_frame(seg), True)
    assert post["quick"].has_positions() and post["fox"].has_positions()
    assert not post["lazy"].has_positions()

    q = '"quick fox"'
    node = oracle.plan(q)
    out = W._make_kernel(node, oracle.sd.avgdl, 10, True, False, [])(seg)
    want = oracle.search(q, k=10)
    assert sorted(d for d, _ in want) == [0, 1, 4]
    assert list(out["doc_id"]) == [d for d, _ in want]
    assert np.allclose(out["score"], [s for _, s in want], rtol=0, atol=1e-9)


# (total_blocks, decoded_blocks) per query; the same counts as the
# per-block pandas kernel this decoder replaced
PRUNE_COUNTS = {
    "import OR cats": (41, 39),
    "import OR def OR cats": (63, 59),
    "spark OR parser OR query": (66, 66),
    "import AND cats": (41, 39),
    "spark AND parser": (44, 44),
    "import AND def AND parser": (66, 66),
}


@pytest.fixture(scope="module")
def lazy(spark, unit_index):
    ix, _, _ = unit_index
    return LocalSearcher(spark, ix.dir, predecode=False)


@pytest.mark.parametrize("q", sorted(PRUNE_COUNTS))
def test_prune_counters_pinned(lazy, q):
    W.reset_prune_stats()
    lazy.search(q, k=10)
    st = W.get_prune_stats()
    assert st["total_blocks"] > 0
    assert st["decoded_blocks"] <= st["total_blocks"]
    assert (st["total_blocks"], st["decoded_blocks"]) == PRUNE_COUNTS[q]


@pytest.fixture(scope="module", params=["plain", "tombstones", "bitpack"])
def served(request, spark, unit_index, unit_corpus, tmp_path_factory):
    """-> (index dir, deleted ids) for each index variant."""
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_docs

    ix, _, _ = unit_index
    if request.param == "plain":
        return ix.dir, []
    out = str(tmp_path_factory.mktemp("served") / request.param)
    if request.param == "tombstones":
        shutil.copytree(ix.dir, out)
        delete_docs(spark, out, DELETED)
        return out, DELETED
    IndexBuilder(num_shards=4, block_size=32, codec="bitpack").build(
        spark.createDataFrame(unit_corpus), out
    )
    return out, []


def test_serving_paths_rank_identical(spark, unit_index, served):
    """LocalSearcher per-query decode, LocalSearcher predecode and the
    oracle agree on doc order exactly and on scores within 1e-9."""
    _, oracle, _ = unit_index
    ix_dir, dead = served
    paths = [
        LocalSearcher(spark, ix_dir, predecode=False),
        LocalSearcher(spark, ix_dir, predecode=True),
    ]
    for q in STREAM:
        # as-built stats: deleted docs drop out of the full ranking
        want = [
            (d, s) for d, s in oracle.search(q, k=None) if d not in dead
        ][:10]
        assert want, q
        for ls in paths:
            out = ls.search(q, k=10)
            assert list(out["doc_id"]) == [d for d, _ in want], q
            assert np.allclose(
                out["score"], [s for _, s in want], rtol=0, atol=1e-9
            ), q
