"""Dead-code guard: every top-level def or class in ``mysql_to_s3_spark/``
must be referenced by name somewhere in the package, the tests, the
tools, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. Pure AST;
no Spark.

A reference is any Name, Attribute, imported name, or string constant
that spells the name (``getattr``-style wrapping by name counts). The
check is name-based: a name reused elsewhere can hide dead code, but a
reported def has no reference at all. Delete what it reports, or call it
from where it belongs.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mysql_to_s3_spark"
REFERENCE_SOURCES = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
                     ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _py_files(src: Path) -> list[Path]:
    return sorted(src.rglob("*.py")) if src.is_dir() else [src]


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for src in REFERENCE_SOURCES:
        for path in _py_files(src):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    names.add(node.value)
    return names


def unreferenced_defs() -> list[str]:
    used = _referenced_names()
    out = []
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and node.name not in used
            ):
                out.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    return out


def test_every_top_level_def_is_referenced():
    assert unreferenced_defs() == []
