"""The SQL query lane (sqlgen.py) — DataFrameExecutor's only plan
builder — against the brute-force numpy oracle over the same docs:
exact doc_id order and scores within 1e-9 on every query shape,
including the features the gates exercise (deletes, boosts, meta
join, k=None, non-BM25 similarities) and the MultiIndex union behind
alias serving."""

import threading

import pytest

from lucille_spark.exec_df import DataFrameExecutor
from lucille_spark.index import IndexBuilder
from lucille_spark.index.reader import SparkIndex

N_DOCS = 600
META = ("repo", "path", "commit", "lang")

QUERIES = [
    "spark",
    "batch AND window AND spark",
    "spark batch window",
    '"batch window"',
    '"batch window"~2',
    "table AND (batch OR window) AND NOT stream",
    "sc*",
    "tble~1",
    "ba?ch",
    "[batch TO spark]",
    "spark^2.5 OR batch",
    "(spark OR batch OR window)@2",
    "lang:py AND spark",
    "+spark -batch window",
    # shapes the corpus leaves empty above, with terms it does hold
    '"lerp slerp"',
    '"test failure"~3',
    "table AND window AND NOT stream",
    "(spark OR table OR window)@2",
    "lang:python AND spark",
    "cats OR dogs OR /sc.t+er/",
]


@pytest.fixture(scope="module")
def oracle_docs():
    """The generator's docs with doc_id = generator index, which is
    also the id every index below serves (alias parts rebased)."""
    from lucille_spark.fixtures import generate_pdf

    return [
        {"doc_id": i, **{c: getattr(r, c) for c in META},
         "content": r.content}
        for i, r in enumerate(generate_pdf(N_DOCS).itertuples())
    ]


def _build(spark, out, lo, hi):
    """Index over generator docs [lo, hi) with LOCAL ids 0..hi-lo-1."""
    from pyspark.sql import functions as F

    from lucille_spark.fixtures import generate_docs

    docs = generate_docs(spark, hi, partitions=4, with_ids=True)
    if lo:
        docs = docs.filter(F.col("doc_id") >= lo).withColumn(
            "doc_id", F.col("doc_id") - F.lit(lo)
        )
    IndexBuilder(num_shards=2, block_size=32).build(
        docs, out, id_col="doc_id", assume_partitioned=not lo
    )
    return out


@pytest.fixture(scope="module")
def oracle(oracle_docs):
    from tests.oracle import OracleIndex

    return OracleIndex(oracle_docs)


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sqlgen") / "ix")
    return SparkIndex(spark, _build(spark, out, 0, N_DOCS))


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _assert_ranked(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9, (ctx, a, b)


def _boosted(ranked, boosts, k):
    """Oracle-side indices_boost: scale each doc by its range factor,
    re-rank (score desc, doc_id asc), cut to k."""
    out = []
    for d, s in ranked:
        f = next((f for lo, hi, f in boosts if lo <= d < hi), 1.0)
        out.append((d, s * f))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def test_sql_lane_used_and_identical(ix, oracle):
    ex = DataFrameExecutor(ix)
    nonempty = 0
    for q in QUERIES:
        want = oracle.search(q, k=10)
        _assert_ranked(_rows(ex.search(q, k=10)), want, q)
        nonempty += bool(want)
    assert nonempty >= 12  # the oracle check is not vacuous


def test_sql_lane_meta_and_unbounded(ix, oracle, oracle_docs):
    ex = DataFrameExecutor(ix)
    by_id = {d["doc_id"]: d for d in oracle_docs}
    rows = ex.search("spark batch", k=5, with_meta=True).collect()
    assert rows[0].__fields__[:2] == ["doc_id", "score"]
    assert set(META) <= set(rows[0].__fields__)
    _assert_ranked(
        [(r["doc_id"], r["score"]) for r in rows],
        oracle.search("spark batch", k=5), "with_meta",
    )
    for r in rows:
        assert all(r[c] == by_id[r["doc_id"]][c] for c in META)
    # unbounded (k=None) match set
    got = _rows(ex.search("spark batch", k=None))
    assert len(got) > 5
    _assert_ranked(got, oracle.search("spark batch", k=None), "k=None")


def test_sql_lane_boosts_and_deletes(ix, oracle, spark, tmp_path):
    import shutil

    from lucille_spark.index.maintenance import delete_docs

    work = str(tmp_path / "ixdel")
    shutil.copytree(ix.dir, work)
    ex0 = DataFrameExecutor(ix)
    q = "spark batch window"
    boosts = [(0, 100, 1.5), (100, 200, 0.5)]
    _assert_ranked(
        _rows(ex0.search(q, k=10, doc_boosts=boosts)),
        _boosted(oracle.search(q, k=None), boosts, 10), "doc_boosts",
    )

    victims = [d for d, _ in oracle.search("spark", k=2)]
    delete_docs(spark, work, victims)
    ex2 = DataFrameExecutor(SparkIndex(spark, work))
    got = _rows(ex2.search("spark", k=10))
    assert not set(victims) & {d for d, _ in got}
    want = [t for t in oracle.search("spark", k=None) if t[0] not in victims]
    _assert_ranked(got, want[:10], "deletes")


@pytest.mark.parametrize("sim", ["tfidf", "lmd", "lmjm"])
def test_sql_lane_similarities(spark, ix, oracle_docs, sim):
    """The SQL renderings of the non-BM25 scoring formulas."""
    from tests.oracle import OracleIndex

    oracle = OracleIndex(oracle_docs, similarity=sim)
    ex = DataFrameExecutor(SparkIndex(spark, ix.dir, similarity=sim))
    for q in ["spark", "spark batch window", "table AND window"]:
        _assert_ranked(
            _rows(ex.search(q, k=10)), oracle.search(q, k=10), (sim, q)
        )


def test_alias_multiindex_through_sql(spark, tmp_path_factory, oracle,
                                      oracle_docs, monkeypatch):
    """An alias over two independently built parts (MultiIndex, no
    per-file manifest) is served by ONE spark.sql call, with the meta
    join and indices_boost, and matches the oracle over the parts'
    rebased docs (the parts' ids rebase onto the generator's ids)."""
    from lucille_spark.searcher import Searcher

    tmp = tmp_path_factory.mktemp("sqlgen_alias")
    split = 250
    dirs = [
        _build(spark, str(tmp / "pa"), 0, split),
        _build(spark, str(tmp / "pb"), split, N_DOCS),
    ]
    s = Searcher(spark, dirs, executor="df")
    assert s.index.part_ranges == [
        (dirs[0], 0, split), (dirs[1], split, N_DOCS)
    ]
    calls = []
    real_sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **kw: calls.append(q) or real_sql(q, *a, **kw)
    )
    by_id = {d["doc_id"]: d for d in oracle_docs}
    for q in ("spark batch window", "table AND window AND NOT stream"):
        del calls[:]
        rows = s.search(
            q, k=10, with_meta=True, indices_boost=[0.5, 2.0]
        ).collect()
        assert len(calls) == 1 and "LIMIT 10" in calls[0], q
        want = _boosted(
            oracle.search(q, k=None),
            [(0, split, 0.5), (split, N_DOCS, 2.0)], 10,
        )
        assert want and any(d >= split for d, _ in want)
        _assert_ranked(
            [(r["doc_id"], r["score"]) for r in rows], want, q
        )
        for r in rows:
            assert all(r[c] == by_id[r["doc_id"]][c] for c in META)


def test_view_names_thread_safe(spark):
    """16 threads registering 16 DataFrames at once get 16 distinct
    temp views, each reading back its own rows."""
    import sys

    from lucille_spark.exec_df import _view

    dfs = [spark.range(i, i + 3) for i in range(16)]
    names = [None] * 16
    gate = threading.Barrier(16, timeout=60)

    def reg(i):
        gate.wait()
        names[i] = _view(dfs[i], "t")

    ts = [threading.Thread(target=reg, args=(i,)) for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert len(set(names)) == 16
    for i, name in enumerate(names):
        got = sorted(r.id for r in spark.sql(f"SELECT id FROM {name}").collect())
        assert got == [i, i + 1, i + 2]
        assert _view(dfs[i], "t") == name  # memoized on the frame


def test_sql_escaping_hostile_terms(ix):
    """Terms with quotes/backslashes must render into valid SQL
    (code corpora contain both)."""
    from lucille_spark import plans as P
    from lucille_spark.sqlgen import SqlCompiler

    c = SqlCompiler("vflat", "vdl", 10.0)
    node = P.PTerm(term="it's\\a\"q\n", idf=1.0, sim="bm25")
    sql = c.node(node)
    assert "\\'" in sql and "\\\\" in sql and "\\u000A" in sql
    # ... and the rendering parses and runs: no match, no error
    ex = DataFrameExecutor(ix)
    assert ex.evaluate(node).count() == 0
