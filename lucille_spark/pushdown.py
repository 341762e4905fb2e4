"""Shared pushdown predicate for multi-term expansions.

Both executors filter a parquet table by "term matches this expansion"
(exec_df on `postings_flat`, exec_wand on `segments`). For a small
resolved expansion the exact IN-list is best: parquet pushes `In` and
prunes row groups precisely. But a wildcard like ``*e*`` over a
10M-term dictionary would serialize millions of literals into the plan
— at web scale the predicate must stay O(1) in plan size. This module
picks per PExpand:

  * len(terms) <= IN_THRESHOLD  ->  exact ``term IN (...)``
  * otherwise                   ->  the source primitive re-expressed
      as column predicates: a literal-prefix StartsWith / range bound
      (reaches parquet row-group min/max stats) plus a JVM-side
      residual (rlike / levenshtein, whole-stage codegen'd).

Both forms select exactly the terms the planner resolved from the
dictionary (same predicate semantics), so results are identical —
asserted by tests/test_pushdown.py.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

from lucille_spark import plans as P

# Above this many resolved terms, stop enumerating in the plan.
IN_THRESHOLD = 64


_MAX_CHAR = "\U0010ffff"
_EXACT_CAP = 1024  # beyond this, file pruning uses intervals instead


def expand_bounds(node: P.PExpand):
    """(exact_terms, intervals) the expansion's matches are contained
    in — used for file-level pruning. Conservative: an unboundable
    expansion yields the unbounded interval (None, None)."""
    src = node.source
    kind = src[0] if src else None
    if kind == "prefix":
        return [], [(src[1], src[1] + _MAX_CHAR)]
    if kind == "range":
        _, lo, hi, _li, _hi = src
        return [], [(lo, hi)]
    if node.terms and len(node.terms) <= _EXACT_CAP:
        return list(node.terms), []
    if kind in ("wildcard", "regex") and src[1]:
        return [], [(src[1], src[1] + _MAX_CHAR)]
    return [], [(None, None)]


def file_prune_bounds(*nodes: P.PNode):
    """Walk physical trees -> (exact_terms, intervals) covering every
    posting-list term any evaluator of any of them may touch. Feed to
    SparkIndex.flat_for / segments_for."""
    exact: set = set()
    intervals: list = []
    for n in chain.from_iterable(map(P.leaves, nodes)):
        if isinstance(n, P.PTerm):
            exact.add(n.term)
        elif isinstance(n, (P.PPhrase, P.PSynonym)):
            exact.update(n.terms)
        elif isinstance(n, P.PExpand):
            e, iv = expand_bounds(n)
            exact.update(e)
            intervals.extend(iv)
    return sorted(exact), intervals


def expand_condition(node: P.PExpand, col: str = "term") -> Column:
    """-> boolean Column selecting exactly `node`'s terms."""
    c = F.col(col)
    src = node.source
    kind = src[0] if src else None

    # contiguous-interval kinds: always predicate (never an IN-list);
    # both bounds reach the parquet scan as pushed filters.
    if kind == "prefix":
        return c.startswith(src[1])
    if kind == "range":
        _, lo, hi, lo_inc, hi_inc = src
        cond = F.lit(True)
        if lo is not None:
            cond &= (c >= lo) if lo_inc else (c > lo)
        if hi is not None:
            cond &= (c <= hi) if hi_inc else (c < hi)
        return cond

    if len(node.terms) <= IN_THRESHOLD or kind is None:
        return c.isin(list(node.terms))

    if kind in ("wildcard", "regex"):
        _, lit_prefix, rx = src
        cond = c.rlike(f"^(?:{rx})$")
        if lit_prefix:
            # prunable bound; rlike is the exact residual
            cond = c.startswith(lit_prefix) & cond
        else:
            # leading wildcard: a literal SUFFIX is still a cheap
            # JVM short-circuit before the regex engine runs
            sfx = P.regex_literal_suffix(rx)
            if sfx:
                cond = c.endswith(sfx) & cond
            else:
                # no-literal pattern (*e*): required-substring
                # contains() short-circuits before the regex residual
                for s in P.regex_required_substrings(rx):
                    cond = c.contains(s) & cond
        return cond
    if kind == "fuzzy":
        term, max_e = src[1], src[2]
        transpositions = src[3] if len(src) > 3 else False
        if transpositions:
            # OSA has no JVM builtin; a plain-levenshtein predicate
            # would MISS transposed matches (OSA <= e is a superset of
            # lev <= e). Keep the exact resolved IN-list — fuzzy
            # expansions are small (length-banded) even on huge
            # dictionaries.
            return c.isin(list(node.terms))
        return (
            F.abs(F.length(c) - F.lit(len(term))) <= max_e
        ) & (F.levenshtein(c, F.lit(term)) <= max_e)
    return c.isin(list(node.terms))
