"""The parser against its golden corpus: 10,238 inputs with the AST
repr or the ParseError offset and message each of the default-OR and
default-AND parsers gave (tests/data/parser_golden.json.gz, written by
scripts/make_parser_golden.py from the combinator-kernel parser). The
inputs are the perfbench pools for seeds 1-5, the ported reference
suites, seeded mutations of both (truncations, inserted specials,
unbalanced parens and quotes, nesting up to 1000 levels) and random
grammar-token sequences. Every outcome must match exactly."""

import gzip
import json
import os
import sys

import pytest

from lucille_spark.parser import ParseError, and_parser, default_parser

CORPUS = os.path.join(os.path.dirname(__file__), "data", "parser_golden.json.gz")


def _outcome(parser, q):
    try:
        tree = parser.parse(q)
    except ParseError as e:
        return ["err", e.offset, str(e)]
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old, 10_000))  # repr of 1000 nested groups
    try:
        return ["ok", repr(tree)]
    finally:
        sys.setrecursionlimit(old)


@pytest.fixture(scope="module")
def rows():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as f:
        return json.load(f)


def test_corpus_shape(rows):
    assert len(rows) >= 5000
    kinds = {o[0] for _, o, _ in rows}
    assert kinds == {"ok", "err"}
    # both parsers' columns are pinned, and they do disagree somewhere
    assert any(o != a for _, o, a in rows)


@pytest.mark.parametrize("which", ["or", "and"])
def test_parser_matches_golden_corpus(rows, which):
    parser, col = (default_parser, 1) if which == "or" else (and_parser, 2)
    bad = [(r[0], r[col], got) for r in rows if (got := _outcome(parser, r[0])) != r[col]]
    assert not bad, f"{len(bad)} of {len(rows)} differ, first: {bad[:3]}"
