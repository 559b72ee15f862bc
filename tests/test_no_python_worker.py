"""Python-worker guard for the JX path: the executor, the window and domain
planners, the expression compiler and the table registry build their frames
in the JVM. ``parallelize`` and ``createDataFrame`` pickle driver data that a
forked Python worker then reads back, and ``spark.table`` on a name the
catalog does not know (``fact.items``) starts Spark's Python data-source
lookup before it fails, so a ``.table(...)`` call must sit under an ``if``
that asks ``tableExists`` first. Pure AST; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mysql_to_s3_spark"
GUARDED = [
    PACKAGE / "operators" / "executor.py",
    PACKAGE / "operators" / "windows.py",
    *sorted((PACKAGE / "plans").glob("*.py")),
    *sorted((PACKAGE / "functions").glob("*.py")),
    PACKAGE / "sources" / "registry.py",
]
FORBIDDEN = {"parallelize", "createDataFrame"}


def _asks_table_exists(test: ast.expr) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "tableExists"
        for n in ast.walk(test)
    )


def python_worker_calls(source: str) -> list[str]:
    """``line: call`` for every forbidden call in ``source``."""
    found: list[str] = []

    def visit(node: ast.AST, guarded: bool) -> None:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            if attr in FORBIDDEN or (attr == "table" and not guarded):
                found.append(f"{node.lineno}: .{attr}(...)")
        if isinstance(node, ast.If) and _asks_table_exists(node.test):
            visit(node.test, guarded)
            for child in node.body:
                visit(child, True)
            for child in node.orelse:
                visit(child, guarded)
            return
        for child in ast.iter_child_nodes(node):
            visit(child, guarded)

    visit(ast.parse(source), False)
    return found


def test_jx_path_starts_no_python_worker():
    found = {
        str(path.relative_to(PACKAGE.parent)): calls
        for path in GUARDED
        if (calls := python_worker_calls(path.read_text()))
    }
    assert found == {}


def test_guard_flags_what_it_should():
    assert python_worker_calls("spark.createDataFrame(rows)") == ["1: .createDataFrame(...)"]
    assert python_worker_calls("sc.parallelize(xs, 1)") == ["1: .parallelize(...)"]
    assert python_worker_calls("df = spark.table(name)") == ["1: .table(...)"]
    assert python_worker_calls("if spark.catalog.tableExists(name):\n    df = spark.table(name)") == []
    assert python_worker_calls(
        "if spark.catalog.tableExists(name):\n    pass\nelse:\n    df = spark.table(name)"
    ) == ["4: .table(...)"]
