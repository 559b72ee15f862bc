"""Session-state guard: the package keys nothing by session and writes
the caller's session conf in one place only. No code reads
``sessionUUID`` (a cache keyed by it outlives every action and changes
what a repeated build costs), and the only ``conf.set`` is
``registry.load_table``'s ``nanosAsLong``, which every session the
package builds already carries. Pure AST; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mysql_to_s3_spark"
ALLOWED_CONF_SETS = {("load_table", "spark.sql.legacy.parquet.nanosAsLong")}


def session_state_uses(source: str) -> list[tuple[str, str]]:
    """``(enclosing function, what)`` for every ``sessionUUID`` spelling
    and every ``.conf.set``/``.conf.unset`` call in ``source``; ``what``
    is the conf key when it is a string literal."""
    found: list[tuple[str, str]] = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) and node.attr == "sessionUUID":
            found.append((func, "sessionUUID"))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and "sessionUUID" in node.value:
            found.append((func, "sessionUUID"))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            key = node.args[0] if node.args else None
            found.append((func, key.value if isinstance(key, ast.Constant) else f"conf.{node.func.attr}(?)"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), "<module>")
    return found


def test_package_keys_nothing_by_session_and_sets_one_conf():
    found = {
        str(path.relative_to(PACKAGE.parent)): uses
        for path in sorted(PACKAGE.rglob("*.py"))
        if (uses := [u for u in session_state_uses(path.read_text()) if u not in ALLOWED_CONF_SETS])
    }
    assert found == {}
    registry = session_state_uses((PACKAGE / "sources" / "registry.py").read_text())
    assert registry == sorted(ALLOWED_CONF_SETS)


def test_guard_flags_what_it_should():
    assert session_state_uses("k = spark._jsparkSession.sessionUUID()") == [("<module>", "sessionUUID")]
    assert session_state_uses("def f(spark):\n    spark.conf.set('a.b', '8')") == [("f", "a.b")]
    assert session_state_uses("def g(s, k):\n    s.conf.unset(k)") == [("g", "conf.unset(?)")]
    assert session_state_uses("spark.conf.get('a.b')") == []
