"""Where intermediates are stored is decided in one place: every lineage
cut goes through ``expressions.materialize`` or, for the tables an
iterative operator's loop reads, ``expressions.materialize_loop`` (so
``SPARK_GRAFT_MATERIALIZE`` reaches it), except the few freezes that must
never be recomputed.  Checked without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import area_etl_spark

PACKAGE = Path(area_etl_spark.__file__).parent

# (module, enclosing function) of every allowed raw ``localCheckpoint`` call
ALLOWED = sorted(
    [
        # the helpers themselves
        ("operators/expressions.py", "materialize"),
        ("operators/expressions.py", "materialize_loop"),
        # partition ids frozen against AQE re-sampling the range bounds
        ("operators/ids.py", "dense_ids"),
        ("operators/sampling.py", "select_under_budget"),
        # the sinks must not re-read the snapshot dir write_versioned replaces
        ("streaming/ingestion.py", "_apply"),
        ("streaming/ingestion.py", "_apply"),
    ]
)


def _raw_checkpoints(path: Path) -> list[tuple[str, str]]:
    found = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"
            ):
                found.append((path.relative_to(PACKAGE).as_posix(), func))
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return found


def test_lineage_cuts_go_through_materialize():
    calls = sorted(c for p in PACKAGE.rglob("*.py") for c in _raw_checkpoints(p))
    assert calls == ALLOWED
