"""Decisions the library keeps in one place, checked by scanning its
source: where lineage is cut, and where plans are memoized."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sophia_rs_spark"


def _uses(name):
    """(module, top-level def) of every use of ``name`` in the library."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Attribute) and node.attr == name) or (
                    isinstance(node, ast.Name) and node.id == name
                ):
                    found.add((path.relative_to(PKG).as_posix(), getattr(top, "name", None)))
    return found


def test_lineage_cuts_go_through_fixpoint_cut():
    # reasoner.entails keeps one eager cut (see the comment there)
    assert _uses("localCheckpoint") == {
        ("operators/fixpoint.py", "cut"),
        ("operators/reasoner.py", "entails"),
    }


def test_one_weakly_keyed_memo():
    assert {m for m, _ in _uses("WeakKeyDictionary")} == {"plan_cache.py"}
