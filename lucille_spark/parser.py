"""Lucene query-syntax parser (pure Python, zero Spark deps).

A from-scratch implementation of the grammar of the reference parser
(reference: core/.../QueryParser.scala:28-326 and internal/Op.scala:34-107).
The reference is built on the cats-parse combinator library, whose
committed/epsilon failure semantics are load-bearing for this grammar
(`soft` products, `repUntil`, ordered `oneOf`). This module keeps those
semantics in a hand-fused recursive-descent kernel:

- A production is a function ``p(s, i, ...)`` returning ``(j, value)``
  on success, ``None`` on an *epsilon* failure (nothing consumed; the
  failure offset is always ``i``), or an ``int`` offset on a
  *committed* failure (input was consumed before failing). Ordered
  alternation and repetition stop only on epsilon failures.
- ``a.soft ~ b`` (QueryParser.scala:55,64,75,232,241): if ``b`` fails
  without consuming, the whole product fails without consuming.
- ``repUntil(p, until)`` (QueryParser.scala:99,108): repeat ``p`` until
  ``until`` would match; a failure of the ``until`` lookahead, committed
  or not, only means "keep going".

Grammar production order and committedness mirror
QueryParser.scala:135-153 ("termAndWildCardQ should be near last,
below boostQ") — the ordering is what disambiguates e.g. boosts,
minimum-match vs groups, and fuzzy vs bare terms. Most productions
start with a fixed character, so ``query`` dispatches on the first
character and tries only the productions that can match there; every
skipped production would have failed epsilon, so the outcome (AST,
committed/epsilon failure, offset) is the one the full ordered
alternation gives. The term-start chain (fieldQuery, fuzzyT, boostQ,
termAndWildCardQ) scans its term once and branches on the character
after it.

Reentrancy: ``QueryParser.parse`` creates the packrat memo for one call
and passes it down; no grammar function reads or writes parser state,
so one ``QueryParser`` (and the module-level ``parse``) can be used from
many threads at once without a lock. Only an input that needs more
stack than the interpreter's current recursion limit takes a locked
path that raises the limit for the call.

Cost (`scripts/parser_bench.py`, 4-CPU VM, median of 3 runs), mean µs
per parse over the perfbench seed-1 pool, this kernel vs the generic
combinator kernel it replaced: term 4.8 vs 55.0, and 11.4 vs 80.7,
or 10.2 vs 94.1, phrase 3.9 vs 73.2, bool_not 13.8 vs 103.1, prefix
5.0 vs 71.3, fuzzy 4.3 vs 59.7.
"""

from __future__ import annotations

import re
import sys
import threading
from typing import List, Tuple

from lucille_spark.ast import (
    And,
    Boost,
    Field,
    Fuzzy,
    Group,
    ManyChar,
    MinimumMatch,
    Not,
    Or,
    Phrase,
    Prefix,
    Proximity,
    Query,
    SingleChar,
    Str,
    Term,
    TermRange,
    TermRegex,
    UnaryMinus,
    UnaryPlus,
    WildCard,
)


class ParseError(ValueError):
    """Raised by :func:`parse` when the input is not a valid query."""

    def __init__(self, message: str, offset: int):
        super().__init__(message)
        self.offset = offset


# ------------------------------------------------------ character classes

# reference QueryParser.scala:204-215
_LUCENE_SPECIAL = frozenset(
    "+-!(){}[]^\"~*?:\\/"
)
_QUOTES = frozenset('"“”')  # straight + smart quotes (:187)
_SPECIAL = _LUCENE_SPECIAL | _QUOTES | {" "}
_PHRASE_ESCAPABLE = _QUOTES | {"\\"}
_RESERVED = ("OR", "||", "AND", "&&", "NOT", "+", "-", "/")
# first characters of the reserved strings: a term starting with any
# other character skips the reserved-prefix check
_RESERVED_FIRST = frozenset(t[0] for t in _RESERVED)
_ASCII_ALPHA = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")

LUCENE_SPECIAL = _LUCENE_SPECIAL
PHRASE_ESCAPABLE = _PHRASE_ESCAPABLE


def _cls(chars) -> str:
    return "".join(re.escape(c) for c in sorted(chars))


# term (QueryParser.scala:218-219): allowed chars are >= ' ' and not
# special; '\' escapes a special char. Phrase body (:221-225): inside a
# phrase only quotes and backslash are special/escapable.
_TERM_RE = re.compile(
    r"(?:[^\x00-\x20%s]|\\[%s])+" % (_cls(_SPECIAL - {" "}), _cls(_SPECIAL))
)
_PHRASE_RE = re.compile(
    r"(?:[^\x00-\x1f%s]|\\[%s])+" % (_cls(_PHRASE_ESCAPABLE), _cls(_PHRASE_ESCAPABLE))
)
_UNESCAPE = re.compile(r"\\(.)", re.S)

_MISS = object()  # memo sentinel: None is a stored epsilon failure


# ------------------------------------------------------------- leaves
#
# Leaf productions take (s, i, n) with n == len(s) and never recurse.


def _reserved_at(s: str, i: int) -> bool:
    # not(stringIn(reserved)) guard; callers check _RESERVED_FIRST first
    for t in _RESERVED:
        if s.startswith(t, i):
            return True
    return False


def _term(s, i, n):
    """term: reserved prefix -> epsilon fail; '\\' followed by a
    non-special char (or the end) -> committed fail just past it."""
    if i < n and s[i] in _RESERVED_FIRST and _reserved_at(s, i):
        return None
    mt = _TERM_RE.match(s, i)
    j = i if mt is None else mt.end()
    if j < n and s[j] == "\\":
        return j + 1
    if mt is None:
        return None
    txt = mt.group()
    if "\\" in txt:
        txt = _UNESCAPE.sub(r"\1", txt)
    return (j, txt)


def _phrase(s, i, n):
    """quote body quote, s[i] a quote: once the opening quote is
    consumed every failure is committed (an empty body included)."""
    mt = _PHRASE_RE.match(s, i + 1)
    j = i + 1 if mt is None else mt.end()
    if j < n and s[j] == "\\":
        return j + 1
    if mt is None:
        return i + 1
    if j < n and s[j] in _QUOTES:
        body = mt.group()
        if "\\" in body:
            body = _UNESCAPE.sub(r"\1", body)
        return (j + 1, body)
    return j


def _int(s, i, n):
    # int: digits not followed by '.' (QueryParser.scala:190)
    j = i
    while j < n and s[j].isdecimal():
        j += 1
    if j == i:
        return None
    if j < n and s[j] == ".":
        return j  # digits consumed then '.' forbidden -> committed
    return (j, int(s[i:j]))


def _float(s, i, n):
    # float: digits (('.' digits)?) (QueryParser.scala:198-202)
    j = i
    while j < n and s[j].isdecimal():
        j += 1
    if j == i:
        return None
    if j < n and s[j] == ".":
        k = j + 1
        while k < n and s[k].isdecimal():
            k += 1
        if k == j + 1:
            return k  # '.' consumed, digits required
        j = k
    return (j, float(s[i:j]))


def _at_query_end(s, j, n) -> bool:
    # queryEnd = (wsp | end | ')').peek (QueryParser.scala:215)
    return j == n or s[j] in " \t)"


def _boost_suffix(s, j, n, q):
    """boostQ's `.soft ~ ('^' float queryEnd)` after a limited query
    ending at j (:62-67): no '^' -> (j, q) unchanged, the soft rewind;
    '^' then a bad float or no queryEnd -> committed."""
    if j >= n or s[j] != "^":
        return (j, q)
    f = _float(s, j + 1, n)
    if f is None:
        return j + 1
    if type(f) is int:
        return f
    k, b = f
    if not _at_query_end(s, k, n):
        return k
    return (k, Boost(q, b))


def _wildcard_run(s, j, n, ops):
    """termAndWildCardQ's rep(oneOf('?', '*', term)) continued from j,
    collapsed (QueryParser.scala:250-261). After a term only '?'/'*'
    can follow (terms are scanned maximally)."""
    while j < n:
        c = s[j]
        if c == "?":
            ops.append(SingleChar())
            j += 1
        elif c == "*":
            ops.append(ManyChar())
            j += 1
        else:
            if ops and type(ops[-1]) is Str:
                break
            t = _term(s, j, n)
            if t is None:
                break
            if type(t) is int:
                return t
            j = t[0]
            ops.append(Str(t[1]))
    if len(ops) == 1 and type(ops[0]) is Str:
        return (j, Term(ops[0].value))
    if len(ops) == 2 and type(ops[0]) is Str and type(ops[1]) is ManyChar:
        return (j, Prefix(ops[0].value))
    return (j, WildCard(tuple(ops)))


def _regex(s, i, n):
    """'/' body '/', s[i] == '/', body kept raw with its '\\/' escapes
    (QueryParser.scala:264-273); '\\' not followed by '/' commits."""
    j = i + 1
    while j < n:
        c = s[j]
        if c == "\\":
            if j + 1 < n and s[j + 1] == "/":
                j += 2
                continue
            return j + 1
        if c >= " " and c != "/":
            j += 1
            continue
        break
    if j == i + 1:
        return i + 1
    if j < n and s[j] == "/":
        return (j + 1, TermRegex(s[i + 1:j]))
    return j


def _skip_ws(s, j, n):
    while j < n and s[j] in " \t":
        j += 1
    return j


def _range_bound(s, k, n):
    # '*' -> open bound, else not(reserved) then [A-Za-z digit .]+
    if k < n and s[k] == "*":
        return (k + 1, None)
    if k < n and s[k] in _RESERVED_FIRST and _reserved_at(s, k):
        return None
    j = k
    while j < n and ((c := s[j]) in _ASCII_ALPHA or c.isdigit() or c == "."):
        j += 1
    if j == k:
        return None
    return (j, s[k:j])


def _range(s, i, n):
    """rangeQuery (QueryParser.scala:278-289), s[i] in '[{': '[' / ']'
    inclusive. The bracket is consumed, so every failure commits at
    the offset of the first element that fails."""
    lo_inc = s[i] == "["
    k = _skip_ws(s, i + 1, n)
    r = _range_bound(s, k, n)
    if r is None:
        return k
    k, lo = r
    k2 = _skip_ws(s, k, n)
    if k2 == k:
        return k
    if not s.startswith("TO", k2):
        return k2
    k = k2 + 2
    k2 = _skip_ws(s, k, n)
    if k2 == k:
        return k
    r = _range_bound(s, k2, n)
    if r is None:
        return k2
    k, hi = r
    k = _skip_ws(s, k, n)
    if k < n and s[k] in "}]":
        return (k + 1, TermRange(lo, hi, lo_inc, s[k] == "]"))
    return k


# infix ops (QueryParser.scala:291-293)
_OP_OR = "OR"
_OP_AND = "AND"


def _infix_op(s, k):
    # -> (op, end) or None
    if s.startswith("OR", k) or s.startswith("||", k):
        return (_OP_OR, k + 2)
    if s.startswith("AND", k):
        return (_OP_AND, k + 3)
    if s.startswith("&&", k):
        return (_OP_AND, k + 2)
    return None


def associate_ops(first: Query, op_qs: List[Tuple[str, Query]]) -> Query:
    """Fold 'q0 OP q1 OP q2…' honoring AND > OR precedence, flattening
    same-operator runs into one n-ary node (reference internal/Op.scala:34-107).
    """
    if not op_qs:
        return first
    (current_op, current_q), remaining = op_qs[0], op_qs[1:]
    temp: List[Query] = [first]
    bldr: List[Query] = []
    for next_op, next_q in remaining:
        if current_op == next_op:
            temp.append(current_q)
        elif next_op == _OP_AND:
            # OR -> AND: collapse now, new AND island starts with current_q
            bldr.extend(temp)
            temp = [current_q]
        else:
            # AND -> OR: current_q joins the AND before collapsing
            temp.append(current_q)
            bldr.append(And.from_list_unsafe(temp))
            temp = []
        current_op, current_q = next_op, next_q
    temp.append(current_q)
    if current_op == _OP_AND:
        bldr.append(And.from_list_unsafe(temp))
    else:
        bldr.extend(temp)
    if len(bldr) == 1:
        return bldr[0]
    return Or.from_list_unsafe(bldr)


# ------------------------------------------------------------- the parser

# parses that need more stack than the current recursion limit take
# this lock while they raise it (the limit is interpreter-wide)
_DEEP_LOCK = threading.Lock()


class QueryParser:
    """Parser with a configurable default boolean operator
    (reference QueryParser.scala:28-30, 170-176). Reentrant: one
    instance may parse on many threads at once."""

    def __init__(self, default_boolean_or: bool = True):
        self.default_boolean_or = default_boolean_or
        self._full = self._build()

    # grammar assembly, mirroring QueryParser.scala productions. The
    # closures are built once per parser; a parse passes its memo `m`
    # down to `query` and `nel_queries`, the memoized productions (and
    # through the helpers that call them). `m` maps a position i to the
    # query result at i, and ~i (a negative key) to the nelQueries
    # result at i.
    def _build(self):
        make_list = Or.from_list_unsafe if self.default_boolean_or else And.from_list_unsafe

        def wrapped(qs):
            # wrap multi-query lists in the default boolean (:124-129)
            return qs[0] if len(qs) == 1 else make_list(qs)

        def query(s, i, m):
            # packrat: the implicit-list loop and the suffix-op `until`
            # lookahead both try `query` at positions the real parse
            # then consumes
            r = m.get(i, _MISS)
            if r is not _MISS:
                return r
            n = len(s)
            c = s[i] if i < n else ""
            if c >= " " and c != "N" and c not in _SPECIAL:
                r = term_start(s, i, n, m)
            elif c == "(":
                r = paren(s, i, n, m)
            elif c in _QUOTES:
                r = quoted(s, i, n)
            elif c == "+" or c == "-":
                # unaryPlus / unaryMinus: the sign is consumed, so a
                # failing operand commits
                r = query(s, i + 1, m)
                if type(r) is tuple:
                    r = (r[0], (UnaryPlus if c == "+" else UnaryMinus)(r[1]))
                elif r is None:
                    r = i + 1
            elif c == "N" and s.startswith("NOT", i):
                # notQ: (P.string("NOT").soft ~ maybeSpace) *> query (:37-38)
                k = _skip_ws(s, i + 3, n)
                r = query(s, k, m)
                if type(r) is tuple:
                    r = (r[0], Not(r[1]))
                elif r is None:
                    r = k
            elif c == "N" or c == "\\":
                # a term (an escape or a non-NOT 'N'): the term-start
                # chain is all that can match here
                r = term_start(s, i, n, m)
            elif c == "[" or c == "{":
                r = _range(s, i, n)
            elif c == "?" or c == "*":
                r = _wildcard_run(s, i, n, [])
                if type(r) is tuple:
                    r = _boost_suffix(s, r[0], n, r[1])
            elif c == "/":
                r = _regex(s, i, n)
            else:
                r = None  # end of input, space, control or stray special
            m[i] = r
            return r

        def term_start(s, i, n, m):
            # fieldQuery | fuzzyT | boostQ | termAndWildCardQ, all of
            # which start with the same term; the char after it picks
            t = _term(s, i, n)
            if type(t) is not tuple:
                return t
            j, txt = t
            c = s[j] if j < n else ""
            if c == ":":
                # fieldValueSoft = term.soft <* ':' (:55-57), then query
                r = query(s, j + 1, m)
                if type(r) is tuple:
                    return (r[0], Field(txt, r[1]))
                return j + 1 if r is None else r
            if c == "~":
                # fuzzyT: term.soft <* '~' then int? (:241-248)
                r = _int(s, j + 1, n)
                if type(r) is tuple:
                    return (r[0], Fuzzy(txt, r[1]))
                return (j + 1, Fuzzy(txt, None)) if r is None else r
            # boostQ over termAndWildCardQ, else termAndWildCardQ
            w = _wildcard_run(s, j, n, [Str(txt)])
            if type(w) is not tuple:
                return w
            return _boost_suffix(s, w[0], n, w[1])

        def quoted(s, i, n):
            # proximityQ: phrase.soft <* '~' then int (:232-239), else
            # boostQ over phraseQ, else phraseQ
            p = _phrase(s, i, n)
            if type(p) is not tuple:
                return p
            j, body = p
            if j < n and s[j] == "~":
                r = _int(s, j + 1, n)
                if type(r) is tuple:
                    return (r[0], Proximity(body, r[1]))
                return j + 1 if r is None else r
            return _boost_suffix(s, j, n, Phrase(body))

        def paren(s, i, n, m):
            # minimumMatchQ: '(' nelQueries ')' .soft '@' int queryEnd
            # (:72-76); else boostQ over groupQ, else groupQ (:113-118).
            # '(' nelQueries ')' is shared and commits once '(' is in.
            r = nel_queries(s, i + 1, m)
            if type(r) is not tuple:
                return i + 1 if r is None else r
            j, qs = r
            if j >= n or s[j] != ")":
                return j
            j += 1
            if j < n and s[j] == "@":
                r = _int(s, j + 1, n)
                if type(r) is not tuple:
                    return j + 1 if r is None else r
                k, num = r
                if not _at_query_end(s, k, n):
                    return k
                return (k, MinimumMatch(tuple(qs), num))
            return _boost_suffix(s, j, n, Group(wrapped(qs)))

        def nel_queries(s, i, m):
            # nelQueries (QueryParser.scala:82-100): repeated until
            # maybeSpace ~ end, each round a leading implicit list
            # (query <* maybeSpace).rep then suffix op-chains
            # (maybeSpace.with1 *> infixOp) ~ ' '.rep ~ query, the chain
            # folded into the last query of the list. Packrat-memoized:
            # minimumMatchQ and groupQ share the nested list.
            key = ~i
            r = m.get(key, _MISS)
            if r is not _MISS:
                return r
            n = len(s)
            j = i
            out: List[Query] = []
            while True:
                k = _skip_ws(s, j, n)
                if k == n:
                    break
                qs: List[Query] = []
                p = k
                while True:
                    r = query(s, p, m)
                    if type(r) is not tuple:
                        break
                    qs.append(r[1])
                    p = _skip_ws(s, r[0], n)
                if r is not None:
                    m[key] = r
                    return r
                if not qs:
                    if k > j:  # spaces consumed before the failure
                        m[key] = k
                        return k
                    break
                ops = []
                while True:
                    # until: maybeSpace then end or a query
                    k = _skip_ws(s, p, n)
                    if k == n or type(query(s, k, m)) is tuple:
                        break
                    op = _infix_op(s, k)
                    if op is None:
                        if k > p:  # spaces consumed, no operator
                            m[key] = k
                            return k
                        break
                    op, k = op
                    if k >= n or s[k] != " ":
                        m[key] = k
                        return k
                    k += 1
                    while k < n and s[k] == " ":
                        k += 1
                    r = query(s, k, m)
                    if type(r) is not tuple:
                        r = k if r is None else r
                        m[key] = r
                        return r
                    ops.append((op, r[1]))
                    p = r[0]
                if ops:
                    qs[-1] = associate_ops(qs[-1], ops)
                out.extend(qs)
                j = p
            r = (j, out) if out else None
            m[key] = r
            return r

        def full(s):
            r = nel_queries(s, 0, {})
            if type(r) is not tuple:
                return r
            return (_skip_ws(s, r[0], len(s)), wrapped(r[1]))

        return full

    def parse(self, input_str: str) -> Query:
        """Parse a whole string; raises ParseError on failure
        (reference QueryParser.scala:164-168, parseAll semantics)."""
        try:
            r = self._full(input_str)
        except RecursionError:
            r = self._parse_deep(input_str)
        if r is None:
            raise ParseError("Parse error at offset 0", 0)
        if type(r) is int:
            raise ParseError(f"Parse error at offset {r}", r)
        j, q = r
        if j != len(input_str):
            raise ParseError(
                f"Parse error at offset {j}: expected end of input", j
            )
        return q

    def _parse_deep(self, input_str: str):
        # deep nesting costs ~2 Python frames per paren level; retry
        # with headroom, and turn stack exhaustion into a ParseError
        # instead of a RecursionError. The cap keeps deeper inputs from
        # exhausting the C stack.
        needed = min(2000 + 20 * len(input_str), 60_000)
        with _DEEP_LOCK:
            old_limit = sys.getrecursionlimit()
            try:
                if needed > old_limit:
                    sys.setrecursionlimit(needed)
                return self._full(input_str)
            except RecursionError:
                raise ParseError("Parse error: query too deeply nested", 0) from None
            finally:
                sys.setrecursionlimit(old_limit)

    def parse_either(self, input_str: str):
        """Either-style result: (None, query) or (error_message, None)."""
        try:
            return (None, self.parse(input_str))
        except ParseError as e:
            return (str(e), None)


default_parser = QueryParser(default_boolean_or=True)
and_parser = QueryParser(default_boolean_or=False)


def with_default_operator_or() -> QueryParser:
    return default_parser


def with_default_operator_and() -> QueryParser:
    return and_parser


def parse(input_str: str) -> Query:
    """Parse with the default-OR parser (reference QueryParser.scala:179-180)."""
    return default_parser.parse(input_str)


def parse_either(input_str: str):
    return default_parser.parse_either(input_str)
