"""scripts/lint_oracles.py flags oracle result columns the gate
harness cannot sort or hash: LIST, fixed ARRAY, STRUCT, MAP, UNION."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))

from lint_oracles import is_nested  # noqa: E402


def test_nested_result_types_flagged():
    res = duckdb.connect().sql(
        "SELECT [1, 2] AS l, [1, 2]::INTEGER[2] AS a, {'x': 1} AS st, "
        "map([1], ['a']) AS m, union_value(n := 1) AS u, "
        "array_to_string(list(p ORDER BY p), ',') AS joined, "
        "1::BIGINT AS b, 'x' AS v, 1.5::DECIMAL(4, 1) AS d "
        "FROM (SELECT 2 AS p UNION ALL SELECT 1)"
    )
    flagged = {c for c, t in zip(res.columns, res.types) if is_nested(str(t).upper())}
    assert flagged == {"l", "a", "st", "m", "u"}
