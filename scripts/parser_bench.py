"""Parser/printer micro-benchmark — the reference ships a JMH
harness with these exact workloads but no committed numbers
(reference benchmarks/.../QueryParserBenchmark.scala:35-50,
QueryPrinterBenchmark.scala, MapLastTermBenchmark.scala). This
mirrors the workloads so future regressions are visible.

Next to those rows it times the parse of each of perfbench's seven
query shapes (`parse_us_<shape>`: mean µs per parse over the shape's
sub-pool of `perfbench.inputs.make_pool(1)`, best of 5 passes) — the
queries the embedded benchmark serves, without Spark.

Usage: python scripts/parser_bench.py  -> one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucille_spark import parse, print_query  # noqa: E402
from lucille_spark.autocomplete import expand_last_term  # noqa: E402
from perfbench.inputs import make_pool  # noqa: E402

OR_10 = " OR ".join(f"term{i}" for i in range(10))
OR_1000 = " OR ".join(f"term{i}" for i in range(1000))
ASSOC = [
    "cat",
    "cat dog fish",
    "cat AND dog",
    "cat OR dog",
    "cat AND dog OR fish",
    "cat OR dog AND fish",
    "cat AND dog AND fish OR bird",
    "cat OR dog OR fish AND bird",
    "a AND b OR c AND d",
    "a OR b AND c OR d",
    "NOT cat AND dog",
    "x AND y OR NOT z",
    "p q AND r s",
]


def rate(fn, reps):
    fn()  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    return reps / (time.perf_counter() - t0)


def shape_parse_us(seed=1, passes=5, reps=40):
    """-> {"parse_us_<shape>": mean µs per parse} over the pool."""
    out = {}
    for shape, pool in make_pool(seed).items():
        texts = [q.text for q in pool]
        best = float("inf")
        for _ in range(passes):
            t0 = time.perf_counter()
            for _ in range(reps):
                for t in texts:
                    parse(t)
            best = min(best, time.perf_counter() - t0)
        out[f"parse_us_{shape}"] = round(best / (reps * len(texts)) * 1e6, 2)
    return out


def main():
    out = {
        "parse_or10_per_sec": round(rate(lambda: parse(OR_10), 2000), 1),
        "parse_or1000_per_sec": round(rate(lambda: parse(OR_1000), 30), 1),
        "parse_assoc13_per_sec": round(
            rate(lambda: [parse(q) for q in ASSOC], 500), 1
        ),
    }
    out.update(shape_parse_us())
    asts = [parse(q) for q in ASSOC] + [parse(OR_10)]
    out["print_per_sec"] = round(
        rate(lambda: [print_query(a) for a in asts], 500), 1
    )
    out["map_last_term_per_sec"] = round(
        rate(lambda: [expand_last_term(a) for a in asts], 500), 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
