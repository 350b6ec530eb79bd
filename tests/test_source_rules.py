"""Static rules over the library source (no SparkSession needed)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "polar_spark"


def test_no_assert_statements_in_library():
    """Checks that guard correctness must raise: ``python -O`` strips
    ``assert`` statements, so a guard written as one silently stops
    failing closed."""
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert statements in polar_spark/: {found}"
