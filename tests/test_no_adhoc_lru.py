"""Every bounded cache in the library goes through lucille_spark.lru:
no module hand-rolls an OrderedDict LRU (move_to_end / popitem)."""

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lucille_spark"


def test_no_hand_rolled_lru():
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "lru.py" or path.parent != PKG
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "move_to_end(" in line or "popitem(last=False)" in line
    ]
    assert not offenders, f"use lucille_spark.lru.LRUCache: {offenders}"
