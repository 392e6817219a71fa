"""Dead-code gate (AST only, no Spark): every top-level ``def`` or
``class`` under ``map_reduce_spark/`` must be referenced somewhere in
the repo's Python outside its own definition. A ``@register``-decorated
builder counts as referenced: the registry is its caller.

Knob census: the environment variables the package reads are a fixed
set, so a new knob has to be a deliberate edit of this file.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "map_reduce_spark"


def _names(node: ast.AST) -> list[str]:
    """Every identifier ``node`` uses: bare names, attributes, imports."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.append(n.name.rsplit(".", 1)[-1])
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


def test_every_package_def_is_referenced() -> None:
    uses: Counter[str] = Counter()
    defs: list[tuple[str, str]] = []
    for path in ROOT.rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        uses.update(_names(tree))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # A definition's own body (recursion) is not a use of it.
            uses.subtract(n for n in _names(node) if n == node.name)
            if PACKAGE in path.parents and not _is_registered(node):
                defs.append((f"{path.relative_to(ROOT)}::{node.name}", node.name))
    dead = [where for where, name in defs if uses[name] <= 0]
    assert not dead, f"unreferenced top-level defs: {dead}"


# Deployment settings only: the worker count, the master URL and the
# driver heap.
ENV_KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"}


def _env_reads(tree: ast.AST) -> set[str]:
    """Names read via ``os.environ.get(..)``, ``os.environ[..]`` or
    ``os.getenv(..)``; a non-literal name is recorded as ``<dynamic>``."""
    def is_environ(node: ast.AST) -> bool:
        return isinstance(node, ast.Attribute) and node.attr == "environ"

    out = set()
    for n in ast.walk(tree):
        key = None
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.args:
            f = n.func
            if (f.attr == "get" and is_environ(f.value)) or f.attr == "getenv":
                key = n.args[0]
        elif isinstance(n, ast.Subscript) and is_environ(n.value):
            key = n.slice
        if key is not None:
            literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
            out.add(key.value if literal else "<dynamic>")
    return out


def test_env_knob_census() -> None:
    reads: set[str] = set()
    for path in PACKAGE.rglob("*.py"):
        reads |= _env_reads(ast.parse(path.read_text(), filename=str(path)))
    assert reads == ENV_KNOBS
