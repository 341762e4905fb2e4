"""N-gram dictionary prefilter for NO-literal wildcards/regexes
(*e*, .*foo.*bar.*): candidate terms come from intersecting the
pattern's required-gram buckets (trigram-index idea), so the
fullmatch residual touches a bounded slice of the dictionary instead
of every term. Correctness: identical results to the scan-all path;
boundedness: asserted through _DICT_SCAN_STATS."""

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.parametrize(
    "pattern,expected",
    [
        (".*e.*", ["e"]),
        ("s.an", ["s", "an"]),
        (".*foo.*bar.*", ["foo", "bar"]),
        ("ab*c", ["a", "c"]),
        ("ab+c", ["a", "c"]),
        ("ab?c", ["a", "c"]),
        ("a|b", []),  # alternation: runs are branch-local
        ("x{2}y", []),  # counted repetition: bail out
        ("[ab]c", []),  # class: bail out
        ("(ab)c", []),  # group: bail out
        ("a\\dc", []),  # escape: bail out
        (".*", []),
        ("cat", ["cat"]),
    ],
)
def test_required_substrings(pattern, expected):
    from lucille_spark.plans import regex_required_substrings

    assert regex_required_substrings(pattern) == expected


def _dict(terms):
    from lucille_spark.index.reader import DriverDictionary

    arr = np.array(sorted(set(terms)), dtype=object)
    n = arr.size
    return DriverDictionary(
        arr,
        np.arange(n, dtype=np.int64),
        np.ones(n, dtype=np.int64),
        np.ones(n, dtype=np.int64),
    )


TERMS = [
    "cat", "tomcat", "bobcat", "catalog", "dog", "muscat", "scatter",
    "cast", "wildcat", "copycat", "ether", "stone", "xylophone",
    "banana", "bandana", "scan", "span", "spawn", "sean", "urn",
    "foobar", "fooquxbar", "barfoo", "f_bar", "foo",
]


@pytest.mark.parametrize(
    "pattern",
    [".*e.*", ".*c.t.*", "s.an", ".*foo.*bar.*", ".*an.*a.*", ".*x.*"],
)
def test_gram_prefilter_matches_scan_all(pattern):
    from lucille_spark.plans import (
        regex_literal_prefix,
        regex_literal_suffix,
    )

    d = _dict(TERMS)
    got = d.expand_regex(pattern)
    expected = sorted(t for t in d.terms if re.fullmatch(pattern, t))
    assert got == expected
    if not regex_literal_prefix(pattern) and not regex_literal_suffix(
        pattern
    ):
        assert d._gram_sorted is not None  # the prefilter actually ran


def test_scan_is_bounded_by_gram_buckets():
    from lucille_spark.index.reader import (
        dict_scan_stats,
        reset_dict_scan_stats,
    )

    d = _dict(TERMS)
    reset_dict_scan_stats()
    d.expand_regex(".*x.*")
    s = dict_scan_stats()
    assert s["total_terms"] == d.terms.size
    # the 'x' unigram bucket exactly — not the whole dictionary
    n_with_x = len([t for t in set(TERMS) if "x" in t])
    assert s["scanned_terms"] == n_with_x < d.terms.size

    reset_dict_scan_stats()
    d.expand_regex(".*foo.*bar.*")
    s = dict_scan_stats()
    # intersection of the 'foo' and 'bar' trigram buckets only
    both = [t for t in TERMS if "foo" in t and "bar" in t]
    assert s["scanned_terms"] == len(set(both)) < d.terms.size


def test_no_safe_runs_falls_back_to_scan_all():
    from lucille_spark.index.reader import (
        dict_scan_stats,
        reset_dict_scan_stats,
    )

    d = _dict(TERMS)
    reset_dict_scan_stats()
    got = d.expand_regex("(c|d).t")  # group+alternation: no prefilter
    assert got == sorted(
        t for t in d.terms if re.fullmatch("(c|d).t", t)
    )
    assert dict_scan_stats()["scanned_terms"] == d.terms.size


@settings(max_examples=60, deadline=None)
@given(
    terms=st.lists(
        st.text(alphabet="abcde_01", min_size=1, max_size=8),
        min_size=1,
        max_size=40,
    ),
    runs=st.lists(
        st.text(alphabet="abcde_01", min_size=1, max_size=4),
        min_size=1,
        max_size=3,
    ),
)
def test_gram_prefilter_property(terms, runs):
    """For any dictionary and any all-literal-runs pattern, the
    prefiltered expansion equals brute-force fullmatch."""
    d = _dict(terms)
    pattern = ".*" + ".*".join(runs) + ".*"
    got = d.expand_regex(pattern)
    expected = sorted(
        t for t in d.terms if re.fullmatch(pattern, t)
    )
    assert got == expected


def test_pushdown_contains_shortcircuit_identical(spark):
    """PushdownDictionary with the contains() short-circuit selects
    the same terms as brute force for no-literal patterns."""
    from lucille_spark.index.reader import PushdownDictionary

    df = spark.createDataFrame(
        [(t, i, 1, 1) for i, t in enumerate(sorted(set(TERMS)))],
        "term string, term_id long, df long, cf long",
    )
    pd_dict = PushdownDictionary(df)
    for pattern in (".*e.*", ".*foo.*bar.*", "s.an"):
        got = sorted(pd_dict.expand_regex(pattern))
        expected = sorted(
            t for t in set(TERMS) if re.fullmatch(pattern, t)
        )
        assert got == expected, pattern


def test_expand_condition_no_literal_has_contains(spark):
    """The postings-scan predicate for a big no-literal expansion
    carries Contains short-circuits ahead of the RLike residual."""
    from lucille_spark import plans as P
    from lucille_spark.pushdown import expand_condition

    node = P.PExpand(
        terms=tuple(f"t{i}e" for i in range(100)),  # > IN_THRESHOLD
        kind="wildcard",
        source=("wildcard", "", ".*e.*"),
    )
    cond = expand_condition(node)
    s = str(cond._jc)
    assert "contains" in s.lower()
    assert "RLIKE" in s or "rlike" in s.lower()


def test_prefix_and_fuzzy_plans_count_scans():
    """Prefix, range and fuzzy expansions count the dictionary rows
    they scan: the prefix's sorted slice, the range's slice, and the
    fuzzy length band (the rows the edit-distance pass runs over)."""
    from lucille_spark import parse
    from lucille_spark.index.reader import (
        dict_scan_stats,
        reset_dict_scan_stats,
    )
    from lucille_spark.plans import Planner

    d = _dict(TERMS)
    planner = Planner(d, n_docs=100)
    n = d.terms.size

    reset_dict_scan_stats()
    planner.plan(parse("ca*"))
    # sorted slice ["cast", "cat", "catalog"]
    assert dict_scan_stats() == {"scanned_terms": 3, "total_terms": n}

    reset_dict_scan_stats()
    planner.plan(parse("caat~1"))
    # the length band 3..5: 12 of the 25 terms
    assert len([t for t in TERMS if 3 <= len(t) <= 5]) == 12
    assert dict_scan_stats() == {"scanned_terms": 12, "total_terms": n}

    reset_dict_scan_stats()
    d.expand_range("d", "f", True, False)  # "dog", "ether"
    assert dict_scan_stats() == {"scanned_terms": 2, "total_terms": n}
