"""Every rename that makes data visible goes through one of three places
in ``sources/load.py``: the staged directory swap, the pointer-file write
and the writer lock.  Checked without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import area_etl_spark

PACKAGE = Path(area_etl_spark.__file__).parent

# (module, enclosing function's qualified name) of every allowed rename
ALLOWED = [
    ("sources/load.py", "_staged_save"),
    ("sources/load.py", "_writer_lock"),
    ("sources/load.py", "replace_file"),
]


def _is_rename(call: ast.Call) -> bool:
    """``os.replace``, ``os.rename``, ``shutil.move``, or ``.rename`` on
    anything (a Hadoop ``FileSystem``, a ``Path``)."""
    f = call.func
    if not isinstance(f, ast.Attribute):
        return False
    owner = f.value.id if isinstance(f.value, ast.Name) else None
    return f.attr == "rename" or (owner, f.attr) in {("os", "replace"), ("shutil", "move")}


def _rename_calls(path: Path) -> list[tuple[str, str]]:
    found = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name if func == "<module>" else f"{func}.{child.name}")
                continue
            if isinstance(child, ast.Call) and _is_rename(child):
                found.append((path.relative_to(PACKAGE).as_posix(), func))
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return found


def test_renames_go_through_the_publish_helpers():
    calls = sorted(set(c for p in PACKAGE.rglob("*.py") for c in _rename_calls(p)))
    assert calls == ALLOWED
