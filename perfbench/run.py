"""Seeded serving benchmark for lucille_spark.

    python3 perfbench/run.py --workload embedded --seed 1 --seconds 20 --trace 0

Builds an index from the seeded corpus in a fresh local[nproc] Spark
session, runs one workload's closed loop for `--seconds`, checks every
result against the numpy oracle, and prints a human-readable log
followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer metrics of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

if os.environ.get("PYTHONHASHSEED") != "0":
    # str hashes are randomized per process, and with them the layout of
    # the str-keyed dicts on the query path. Fixing the seed takes that
    # per-process spread out of run-to-run comparisons: the embedded p50
    # of one stream moved 0.67-0.80 ms across four random-seed processes
    # and 0.70-0.74 ms across four with PYTHONHASHSEED=0.
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable] + sys.argv)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
WORK = os.path.join(REPO_ROOT, ".perfbench_work")
DEADLINE_S = 170  # a run must end within 180 s


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO_ROOT, "lucille_spark", "__init__.py")):
        print(f"perfbench: no lucille_spark package under {REPO_ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, REPO_ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        REPO_ROOT, work_dir, T_START)
    try:
        result = run.run()
    finally:
        signal.alarm(0)
        shutil.rmtree(work_dir, ignore_errors=True)
    for line in run.summary_lines():
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
