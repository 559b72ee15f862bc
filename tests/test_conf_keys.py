"""Session-conf guard: the package declares exactly one
``mysql_to_s3_spark.*`` session-conf key, ``window.maxGlobalRows``. Every
other operator bound is an argument or a module constant, so no result
depends on conf an earlier caller left set. Pure AST; no Spark.

A key is any ``mysql_to_s3_spark.<name>...`` spelled in a string
constant of the package (docstrings and f-string parts included) whose
first segment is neither a module or subpackage of the package nor a
name its ``__init__`` binds (those spell import paths, logger names and
the public API)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mysql_to_s3_spark"
ALLOWED = {"mysql_to_s3_spark.window.maxGlobalRows"}
_DOTTED = re.compile(r"\bmysql_to_s3_spark\.\w+(?:\.\w+)*")


def declared_conf_keys() -> dict[str, str]:
    """{key: first place it is spelled} over the package's string constants."""
    names = {p.stem for p in PACKAGE.iterdir() if p.suffix == ".py" or (p / "__init__.py").exists()}
    for node in ast.walk(ast.parse((PACKAGE / "__init__.py").read_text())):
        if isinstance(node, ast.alias):
            names.add(node.asname or node.name)
    keys: dict[str, str] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                for key in _DOTTED.findall(node.value):
                    if key.split(".")[1] not in names:
                        keys.setdefault(key, f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    return keys


def test_package_declares_one_session_conf_key():
    keys = declared_conf_keys()
    assert set(keys) == ALLOWED, {k: v for k, v in keys.items() if k not in ALLOWED}
