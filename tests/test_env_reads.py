"""The package's environment surface, pinned.

Every environment variable ``yamon_spark/`` reads changes how a session
or a run behaves without showing up in any signature or config file, so
two runs that look alike can differ. This test lists the names read by
string literal through ``os.environ`` / ``os.getenv`` and pins the set:
a new knob has to be added here on purpose.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "yamon_spark")


def _is_environ(node: ast.expr) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _read_name(node: ast.AST) -> str | None:
    """The literal variable name of an ``os.environ[...]``,
    ``os.environ.get/pop/setdefault(...)`` or ``os.getenv(...)`` read."""
    if isinstance(node, ast.Subscript) and _is_environ(node.value):
        key = node.slice
    elif isinstance(node, ast.Call) and node.args:
        f = node.func
        if not (
            (isinstance(f, ast.Attribute) and f.attr in ("get", "pop", "setdefault") and _is_environ(f.value))
            or (isinstance(f, ast.Attribute) and f.attr == "getenv")
            or (isinstance(f, ast.Name) and f.id == "getenv")
        ):
            return None
        key = node.args[0]
    else:
        return None
    return key.value if isinstance(key, ast.Constant) and isinstance(key.value, str) else None


def test_package_reads_only_the_pinned_env_vars():
    read: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                name = _read_name(node)
                if name is not None:
                    read.setdefault(name, []).append(os.path.relpath(path, PKG))
    assert set(read) == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}, read
