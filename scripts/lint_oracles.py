"""Hash-fragility linter over every oracle_sql() projection.

Round 3 burned two driver gate slots on ORACLE artifacts, not engine
errors (VERDICT r3 "What's wrong" #1-2):

  1. round(x, k) on doubles of large magnitude — at |x| ~ 1.7e9 with 4
     decimals the value needs ~14 significant digits and Spark's and
     DuckDB's round() land one ulp apart on a few rows, so an
     order-insensitive value hash misses even though the engine
     answers are identical.
  2. DuckDB typed-aggregate widths — sum(BIGINT) yields HUGEINT and
     count(*) semantics differ in width, which a hasher may normalize
     differently from Spark's BIGINT even with zero value diffs.

A third class makes a gate error even when both engines agree: an
oracle and gate that return a LIST column (ft_highlight_pos positions,
code_logic_dups doc_ids before their projections were scalarized).
The gate harness sorts and hashes result cells, and a list cell can
be neither.

This linter EXECUTES every oracle at sf0.01 and flags, per column:

  * HUGEINT / INT128 / UINT128 / DECIMAL result types (class 2): the
    projection must CAST to BIGINT/DOUBLE so both engines agree on a
    canonical width.
  * non-scalar result types — LIST (`T[]`), fixed ARRAY (`T[n]`),
    STRUCT, MAP, UNION (class 3): the projection must emit a scalar
    (e.g. `array_to_string(list(x ORDER BY x), ',')`).
  * FLOAT/DOUBLE columns that carry FRACTIONAL values at magnitude
    >= 1e6 (class 1): round-to-k-decimals is beyond reliable double
    precision there; the projection should emit an integer canonical
    form (e.g. epoch millis as BIGINT) or text.

Usage: python scripts/lint_oracles.py [sf_dir]
Exit status 1 if any flag fires — run it in CI next to the mirror.

sf_dir defaults to the LARGEST /root/testdata/sf* present (ADVICE
r4: magnitudes that grow with data size — counts, sums, epoch
offsets — can pass at sf0.01 yet be fragile at the driver's real
scale). Columns within 10x of the magnitude limit additionally
print as WARNs (exit 0): the scale-growth watchlist.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# DuckDB types whose hash canonicalization differs from Spark's
FRAGILE_TYPES = ("HUGEINT", "INT128", "UINT128", "DECIMAL")

# DuckDB type-name prefixes of nested (non-scalar) types; LIST and
# ARRAY print as `T[]` / `T[n]`
NESTED_PREFIXES = ("STRUCT", "MAP", "UNION", "LIST", "ARRAY")


def is_nested(ty: str) -> bool:
    return ty.endswith("]") or ty.startswith(NESTED_PREFIXES)


# |value| above this with a fractional part => round() is past the
# precision a double can hold reliably for digit-exact cross-engine
# comparison (the ev_asof failure was at 1.7e9 with 4 decimals).
MAG_LIMIT = 1e6


def _largest_sf(root: str = "/root/testdata") -> str:
    cands = []
    try:
        for d in os.listdir(root):
            if d.startswith("sf"):
                try:
                    cands.append((float(d[2:]), os.path.join(root, d)))
                except ValueError:
                    pass
    except OSError:
        pass
    return max(cands)[1] if cands else os.path.join(root, "sf0.01")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else _largest_sf()
    print(f"linting at {sf_dir}")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    flags: list[str] = []
    warns: list[str] = []
    n_err = 0

    for name, sql in sorted(oracles.items()):
        try:
            res = con.sql(sql)
            cols = res.columns
            types = [str(t).upper() for t in res.types]
            rows = res.fetchall()
        except Exception as e:  # an oracle that doesn't run is a flag
            flags.append(f"{name}: oracle failed to execute: {e}")
            n_err += 1
            continue

        for i, (c, ty) in enumerate(zip(cols, types)):
            if is_nested(ty):
                flags.append(
                    f"{name}.{c}: non-scalar result type {ty} — the gate "
                    f"cannot sort or hash it; emit a scalar (e.g. "
                    f"array_to_string(list(x ORDER BY x), ','))"
                )
                continue
            if any(ft in ty for ft in FRAGILE_TYPES):
                flags.append(
                    f"{name}.{c}: fragile result type {ty} — CAST to "
                    f"BIGINT/DOUBLE in the projection"
                )
                continue
            if "DOUBLE" in ty or "FLOAT" in ty:
                worst = 0.0
                fractional_at_mag = False
                near_mag = False
                for r in rows:
                    v = r[i]
                    if v is None or (isinstance(v, float) and math.isnan(v)):
                        continue
                    a = abs(float(v))
                    worst = max(worst, a)
                    if float(v) != int(v):
                        if a >= MAG_LIMIT:
                            fractional_at_mag = True
                        elif a >= MAG_LIMIT / 10:
                            near_mag = True
                if fractional_at_mag:
                    flags.append(
                        f"{name}.{c}: fractional double at magnitude "
                        f"{worst:.3g} — beyond stable round() precision; "
                        f"emit an integer canonical form (e.g. millis "
                        f"as BIGINT) or text"
                    )
                elif near_mag:
                    # within 10x of the limit at THIS sf: a value that
                    # grows with data size (sum/avg of epochs, counts)
                    # may cross it at the driver's larger scale
                    warns.append(
                        f"{name}.{c}: fractional double at magnitude "
                        f"{worst:.3g} (within 10x of limit) — watch at "
                        f"larger scale factors"
                    )

    for w in warns:
        print("  WARN", w)
    if flags:
        print(f"{len(flags)} flag(s):")
        for f in flags:
            print("  FLAG", f)
        return 1
    print(
        f"0 flags over {len(oracles)} oracles "
        f"({len(warns)} warns, {n_err} exec errors)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
