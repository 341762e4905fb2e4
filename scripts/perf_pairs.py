"""Paired benchmark runs: a parent commit against this checkout.

Exports the parent ref with `git archive` into a temporary directory,
then runs `perfbench/run.py` alternately in the export and in this
checkout, one run at a time, flipping the order every pair (P,C then
C,P, ...), so slow drift of a shared host hits both sides alike.
Prints every run, then for each end-to-end metric of BENCHMARK.json
(and its direction there) the per-side median and quartiles, the
interquartile range (IQR), the median gain and how many pairs the
change wins. A pair whose runs failed is left out of the summary.

    python3 scripts/perf_pairs.py --parent HEAD~1 --workload embedded \\
        --seed 1 [--pairs 10] [--seconds 20]

Exits 1 if any run prints no result line, reports "correct": false or
"failed" > 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref: str, dest: str) -> None:
    """`git archive <ref>` unpacked into `dest`."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", ref],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def end_to_end() -> dict:
    """BENCHMARK.json's end-to-end metrics -> whether lower is better."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}


def run_once(tree: str, args) -> dict:
    """One perfbench run in `tree` -> its result line, plus the log
    tail under "log"."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    tail = "\n".join(lines[-5:] + p.stderr.strip().splitlines()[-10:])
    for line in reversed(lines):
        if line.startswith("{"):
            out = json.loads(line)
            out["log"] = tail
            return out
    return {"correct": False, "failed": None, "metrics": {}, "log": tail}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(name: str, lower: bool, parent, change) -> None:
    """Per side median, quartiles and IQR; wins of the change."""
    print(f"{name} ({'lower' if lower else 'higher'} is better)")
    for side, xs in (("parent", parent), ("change", change)):
        if xs:
            q1, med, q3 = quartiles(xs)
            print(f"  {side} n={len(xs)} median={med:.4g} q1={q1:.4g} "
                  f"q3={q3:.4g} IQR={q3 - q1:.4g} runs="
                  + " ".join(format(x, ".4g") for x in xs))
    pairs = list(zip(parent, change))
    if pairs:
        sign = 1 if lower else -1
        wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
        q1, p_med, q3 = quartiles(parent)
        gain = sign * (p_med - quartiles(change)[1])
        print(f"  change wins {wins}/{len(pairs)} pairs; median gain "
              f"{gain:.4g} vs parent IQR {q3 - q1:.4g} "
              f"({'exceeds' if gain > q3 - q1 else 'does not exceed'})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git ref to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args(argv)

    metrics = end_to_end()
    tmp = tempfile.mkdtemp(prefix="perf_pairs-")
    bad = 0
    vals = {side: {m: [] for m in metrics} for side in ("parent", "change")}
    try:
        export(args.parent, tmp)
        trees = {"parent": tmp, "change": REPO}
        print(f"parent {args.parent} exported to {tmp}", flush=True)
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                t = time.perf_counter()
                r = run_once(trees[side], args)
                got = {
                    m: float(r["metrics"][m]["value"])
                    for m in metrics if m in r["metrics"]
                }
                print(f"pair {i + 1} {side} correct={r['correct']} "
                      f"failed={r['failed']} "
                      + " ".join(f"{m}={v:.4g}" for m, v in got.items())
                      + f" ({time.perf_counter() - t:.0f} s)", flush=True)
                if r["correct"] is not True or r["failed"] != 0:
                    bad += 1
                    print(r["log"], flush=True)
                elif len(got) == len(metrics):
                    pair[side] = got
            if len(pair) == 2:
                for side, got in pair.items():
                    for m, v in got.items():
                        vals[side][m].append(v)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for m, lower in metrics.items():
        summary(m, lower, vals["parent"][m], vals["change"][m])
    if bad:
        print(f"{bad} run(s) incorrect, failed or without a result",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
