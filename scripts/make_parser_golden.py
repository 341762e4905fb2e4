"""Write the parser golden corpus: query inputs and what each parser
made of them.

The corpus pins the parser's observable behaviour so a rewrite of its
kernel can be checked against it. For every input it records, for the
default-OR and the default-AND parser, either ``repr`` of the AST or
the ``ParseError`` offset and message. Inputs, all seeded:

- the perfbench query pools for seeds 1-5 (``perfbench.inputs.make_pool``);
- every query string of the ported reference suites
  (``tests/test_parser_suite.py``, ``tests/test_associativity.py``,
  ``tests/test_printer.py``);
- mutations of those: every truncation, inserted special characters,
  unbalanced parentheses and quotes, and nesting up to 300 levels;
- random sequences of grammar tokens, glued and space-separated (terms, fields, boosts, fuzzy and
  proximity suffixes, ranges, regexes, groups, minimum-match, operators,
  escapes, wildcards).

Usage: python scripts/make_parser_golden.py [OUT]
(default OUT: tests/data/parser_golden.json.gz). ``tests/test_parser_golden.py``
reads it.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lucille_spark.parser import ParseError, and_parser, default_parser  # noqa: E402

DEFAULT_OUT = os.path.join(ROOT, "tests", "data", "parser_golden.json.gz")
SEED = 20261018

SPECIALS = list('+-!(){}[]^"~*?:\\/@ “”\t') + ["\n", "\x01", "AND", "OR", "NOT", "&&", "||", " TO "]

TOKENS = [
    "cat", "dog", "fish", "a", "b", "x1", "22", "3.5", "te?t", "ca*", "*", "?",
    "f:", "title:", "a.b:", "~", "~2", "~1.5", "^2", "^0.5", "^", "^2.", "@2", "@",
    '"x y"', '"', "“smart q”", '"esc \\" q"', "(", ")", "[a TO b]", "{1 TO *]",
    "[* TO z}", "[a TO]", "/re.*x/", "/a\\/b/", "/", "AND", "OR", "NOT", "&&", "||",
    "+", "-", "!", "\\:", "\\\\", "\\ ", "\\a", "\\", " ", " ", " ", "  ", "\t",
    "TO", "ANDx", "ORe", "NOTe", "N", "A", "O",
]


def suite_queries():
    sys.path.insert(0, ROOT)
    import tests.test_associativity as ta
    import tests.test_parser_suite as tp
    import tests.test_printer as tr

    out = []
    for mod in (tp, ta, tr):
        for name, val in vars(mod).items():
            if not name.isupper() or not isinstance(val, (list, tuple)):
                continue
            for item in val:
                if isinstance(item, str):
                    out.append(item)
                elif isinstance(item, tuple) and item and isinstance(item[0], str):
                    out.append(item[0])
    return out


def pool_queries():
    from perfbench.inputs import make_pool

    out = []
    for seed in range(1, 6):
        for sub in make_pool(seed).values():
            out.extend(q.text for q in sub)
    return out


def mutations(base, rng):
    out = []
    for q in base:
        out.extend(q[:k] for k in range(1, len(q)))  # truncations
        for _ in range(2):  # inserted specials
            k = rng.randrange(len(q) + 1)
            out.append(q[:k] + rng.choice(SPECIALS) + q[k:])
        out.append("(" + q)  # unbalanced parens and quotes
        out.append(q + ")")
        out.append('"' + q)
        out.append(q + ' "')
    for q in rng.sample(base, 40):
        for d in (1, 2, 5, 17, 60, 300):  # deep nesting, balanced and not
            out.append("(" * d + q + ")" * d)
            out.append("(" * d + q + ")" * (d - 1))
            out.append("(" * (d - 1) + q + ")" * d)
        out.append("(" * 3 + q + ")@2" + ")" * 2)
        out.append("+" * 20 + q)
        out.append("f:" * 20 + q)
    return out


def random_queries(rng, n, sep=""):
    out = []
    for _ in range(n):
        k = rng.randint(1, 9)
        out.append(sep.join(rng.choice(TOKENS) for _ in range(k)))
    return out


def outcome(parser, q):
    """["ok", repr(AST)] or ["err", offset, message]."""
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


def main(out_path=DEFAULT_OUT):
    rng = random.Random(SEED)
    suite = suite_queries()
    pool = pool_queries()
    inputs = suite + pool + mutations(suite + rng.sample(pool, 60), rng)
    inputs += random_queries(rng, 4000)
    inputs += random_queries(rng, 2000, sep=" ")
    inputs.append("(" * 1000 + "cat" + ")" * 1000)
    inputs.append(" OR ".join(f"term{i}" for i in range(1000)))
    seen = set()
    uniq = [q for q in inputs if not (q in seen or seen.add(q))]
    rows = [[q, outcome(default_parser, q), outcome(and_parser, q)] for q in uniq]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    data = json.dumps(rows, ensure_ascii=False, separators=(",", ":"))
    with gzip.GzipFile(out_path, "wb", mtime=0) as f:  # byte-reproducible
        f.write(data.encode("utf-8"))
    n_ok = sum(r[1][0] == "ok" for r in rows)
    print(f"{len(rows)} inputs ({n_ok} parse, {len(rows) - n_ok} errors) -> {out_path}")


if __name__ == "__main__":
    main(*sys.argv[1:])
