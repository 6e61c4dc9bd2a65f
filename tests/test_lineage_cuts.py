"""Where intermediates are stored is decided in one place: every lineage
cut, cache or persist in the package goes through
``expressions.materialize``, so ``SPARK_GRAFT_MATERIALIZE`` reaches it.
Checked without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import area_etl_spark

PACKAGE = Path(area_etl_spark.__file__).parent

# the DataFrame methods that store a table outside the dial
STORING = {"localCheckpoint", "checkpoint", "persist", "cache"}

# (module, enclosing function) of every allowed call to one of them
ALLOWED = [("operators/expressions.py", "materialize")]


def _storing_calls(path: Path) -> list[tuple[str, str]]:
    found = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in STORING
            ):
                found.append((path.relative_to(PACKAGE).as_posix(), func))
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return found


def test_lineage_cuts_go_through_materialize():
    calls = sorted(set(c for p in PACKAGE.rglob("*.py") for c in _storing_calls(p)))
    assert calls == ALLOWED
