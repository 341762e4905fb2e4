"""Correctness checks, run outside every timed window: each query
result against `tests.oracle.OracleIndex` over the same generated
docs, and each built index through `check_index` plus its doc count."""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

Rows = Tuple[Tuple[int, float], ...]
REL_TOL = 1e-9


def rows_match(got: Rows, want: Rows) -> bool:
    """doc_id order must match exactly; scores within REL_TOL relative."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd != wd:
            return False
        if abs(gs - ws) > REL_TOL * max(abs(gs), abs(ws)):
            return False
    return True


def build_oracle(docs_pdf):
    from tests.oracle import OracleIndex

    return OracleIndex(docs_pdf.to_dict("records"))


def check_results(oracle, results: Dict[str, List[Rows]], seed: int) -> Tuple[int, List[str]]:
    """`results`: query text -> the rows each request returned.
    -> (requests that mismatched, one message per mismatching query)."""
    bad, msgs = 0, []
    for text, seen in results.items():
        want = tuple(oracle.search(text, k=10))
        wrong = sum(1 for got in seen if not rows_match(got, want))
        if wrong:
            bad += wrong
            got = next(g for g in seen if not rows_match(g, want))
            msgs.append(
                f"MISMATCH seed={seed} query={text!r} requests={wrong}/"
                f"{len(seen)} got={list(got[:3])} want={list(want[:3])}"
            )
    return bad, msgs


def check_built_index(spark, index_dir: str, n_docs: int) -> List[str]:
    """-> error strings (empty when the index is sound)."""
    from lucille_spark.index.check import check_index

    rep = check_index(spark, index_dir)
    errs = [f"check_index: {e}" for e in rep.get("errors", [])]
    if not rep.get("ok", False) and not errs:
        errs.append("check_index: not ok")
    n = int(rep["checks"]["doclens"]["n"])
    if n != n_docs:
        errs.append(f"doc count: index has {n}, corpus has {n_docs}")
    return errs


def as_rows(pairs: Sequence) -> Rows:
    return tuple((int(d), float(s)) for d, s in pairs)
