"""Segment-scan term predicate construction (exec_wand._term_filter):
prefix/range expansions become pushdown predicates, everything else
an exact IN list."""

from lucille_spark import plans as P


def _mk_expand(terms, kind, source=()):
    return P.PExpand(tuple(terms), kind, source)


def test_filter_matches_semantics(spark):
    from pyspark.sql import functions as F

    from lucille_spark.exec_wand import _term_filter

    rows = [("alpha",), ("alphabet",), ("beta",), ("gamma",), ("delta",)]
    df = spark.createDataFrame(rows, "term string")

    # prefix expansion -> startswith predicate
    node = _mk_expand(["alpha", "alphabet"], "prefix", ("prefix", "alph"))
    got = sorted(
        r["term"] for r in df.filter(_term_filter([node])).collect()
    )
    assert got == ["alpha", "alphabet"]

    # range expansion -> range predicate (inclusive bounds)
    node = _mk_expand(
        ["beta", "delta"], "range", ("range", "beta", "delta", True, True)
    )
    got = sorted(
        r["term"] for r in df.filter(_term_filter([node])).collect()
    )
    assert got == ["beta", "delta"]

    # boolean of terms -> exact IN list
    node = P.PBool(
        (P.PTerm("beta", 1.0), P.PTerm("gamma", 1.0)), (), (), 0
    )
    got = sorted(
        r["term"]
        for r in df.filter(_term_filter([node])).collect()
    )
    assert got == ["beta", "gamma"]

    # fuzzy expansion (no pushdown source) -> enumerated terms
    node = _mk_expand(["beta"], "fuzzy")
    got = [r["term"] for r in df.filter(_term_filter([node])).collect()]
    assert got == ["beta"]
