"""Segment blocks store a doc's positions but not its position count:
the count is the doc's tf. Every serving path decodes phrases from
that layout rank-identically to the oracle, on plain, tombstoned,
bitpack and position-less indexes, and a reader refuses an index of
the previous on-disk format."""

import copy
import json
import os
import shutil

import numpy as np
import pytest

import lucille_spark.exec_wand as W
from lucille_spark.eval_local import Posting
from lucille_spark.index.builder import SEGMENT_SCHEMA
from lucille_spark.local_serve import LocalSearcher

# phrases of every kind: exact, sloppy, nested in AND/OR/NOT, next to
# plain terms (only the phrase's terms decode positions)
STREAM = [
    '"import spark"', '"def parser"', '"spark parser"',
    '"parser query"', '"return self"', '"class parser"',
    '"import spark"~3', '"self query"~2', '"import def"~4',
    '"import spark" AND "def parser"',
    '"def parser" OR "return self"',
    'cats AND NOT "import spark"',
    '"query parser" OR cats', '"spark parser" AND import',
    "spark AND parser", "import OR cats",
]

DELETED = list(range(3, 200, 7))


def test_segments_store_no_position_counts(unit_index):
    ix, _, _ = unit_index
    assert "pos_counts" not in SEGMENT_SCHEMA
    assert "pos_counts" not in ix.segments.columns
    assert "positions" in ix.segments.columns


def test_previous_format_asks_for_rebuild(spark, unit_index, tmp_path):
    from lucille_spark.index.reader import SparkIndex

    ix, _, _ = unit_index
    old = str(tmp_path / "format4")
    shutil.copytree(ix.dir, old)
    path = os.path.join(old, "stats.json")
    stats = json.loads(open(path).read())
    stats["format"] = 4
    open(path, "w").write(json.dumps(stats))
    with pytest.raises(ValueError, match="rebuild"):
        SparkIndex(spark, old)


def _without_positions(oracle):
    """The oracle as an index built with store_positions=False sees
    it: same postings, no positions (phrases match nothing)."""
    o = copy.copy(oracle)
    o.sd = copy.copy(oracle.sd)
    o.sd.postings = {
        t: Posting(ids=p.ids, tfs=p.tfs, dls=p.dls)
        for t, p in oracle.sd.postings.items()
    }
    return o


@pytest.fixture(
    scope="module", params=["plain", "tombstones", "bitpack", "no_positions"]
)
def variant(request, spark, unit_index, unit_corpus, tmp_path_factory):
    """-> (index dir, deleted ids, oracle, stores positions) for each
    index variant."""
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_docs

    ix, oracle, _ = unit_index
    if request.param == "plain":
        return ix.dir, [], oracle, True
    out = str(tmp_path_factory.mktemp("segpos") / request.param)
    if request.param == "tombstones":
        shutil.copytree(ix.dir, out)
        delete_docs(spark, out, DELETED)
        return out, DELETED, oracle, True
    kw = (
        {"codec": "bitpack"} if request.param == "bitpack"
        else {"store_positions": False}
    )
    IndexBuilder(num_shards=4, block_size=32, **kw).build(
        spark.createDataFrame(unit_corpus), out
    )
    if request.param == "bitpack":
        return out, [], oracle, True
    return out, [], _without_positions(oracle), False


def test_phrase_stream_rank_identical(spark, variant):
    """LocalSearcher (per-query decode, lazy and full predecode), the
    Spark WandExecutor's search and one search_many batch agree with
    the oracle on doc order exactly and on scores within 1e-9."""
    ix_dir, dead, oracle, has_positions = variant
    paths = [
        LocalSearcher(spark, ix_dir, predecode=p)
        for p in (False, True, "full")
    ]
    wand = W.WandExecutor(paths[0].ix)
    batch = {}
    for r in wand.search_many(STREAM, k=10).collect():
        batch.setdefault(int(r["query_id"][1:]), []).append(
            (r["doc_id"], r["score"])
        )
    matched = 0
    for i, q in enumerate(STREAM):
        # as-built stats: deleted docs drop out of the full ranking
        want = [
            (d, s) for d, s in oracle.search(q, k=None) if d not in dead
        ][:10]
        matched += bool(want)
        got = [ls.search(q, k=10) for ls in paths]
        got = [list(zip(out["doc_id"], out["score"])) for out in got]
        got.append([(r["doc_id"], r["score"]) for r in
                    wand.search(q, k=10).collect()])
        got.append(sorted(batch.get(i, []), key=lambda r: (-r[1], r[0])))
        for rows in got:
            assert [d for d, _ in rows] == [d for d, _ in want], q
            assert np.allclose(
                [s for _, s in rows], [s for _, s in want],
                rtol=0, atol=1e-9,
            ), q
    # every query matches where positions are stored; without them
    # only the four that need no phrase match do
    assert matched == (len(STREAM) if has_positions else 4)
