"""exec_wand runs ONE WAND job shape: a single query is a batch of
one, so one driver-side scan builder calls applyInPandas and one
kernel factory (_make_kernel) builds the shard function."""

import ast
import pathlib

SRC = (
    pathlib.Path(__file__).resolve().parent.parent
    / "lucille_spark" / "exec_wand.py"
)


def test_one_scan_builder_and_one_kernel():
    tree = ast.parse(SRC.read_text())
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    scans = [
        f.name for f in funcs
        if any(
            isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "applyInPandas"
            for c in ast.walk(f)
        )
    ]
    assert len(scans) <= 1, f"applyInPandas called from {scans}"
    names = {f.name for f in funcs}
    assert "_make_batch_kernel" not in names
    assert "_make_kernel" in names
