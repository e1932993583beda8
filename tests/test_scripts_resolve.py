"""Every module a ``scripts/*.py`` file imports must still exist.

Scripts sit outside the package, so no other test imports them; a
deleted module or script would otherwise leave a script that only
breaks when someone next runs it. The check parses each script's
source and resolves its imports with ``importlib.util.find_spec`` —
parent packages are imported to do so, the scripts themselves never
run. The repository root is on ``sys.path`` (conftest), as the
scripts put it there themselves.
"""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = sorted(
    f for f in os.listdir(os.path.join(_ROOT, "scripts")) if f.endswith(".py")
)


def _imported_modules(tree: ast.AST) -> set[str]:
    """Absolute module names a script imports, at any nesting depth.
    ``from pkg import name`` contributes ``pkg``, plus ``pkg.name``
    when ``pkg`` is a namespace package (no ``__init__`` to define
    ``name``, so it can only be a submodule — the ``scripts.*`` case)."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            out.add(node.module)
            spec = importlib.util.find_spec(node.module)
            if spec is not None and spec.origin is None:
                out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


@pytest.mark.parametrize("script", _SCRIPTS, ids=str)
def test_script_imports_resolve(script):
    with open(os.path.join(_ROOT, "scripts", script)) as f:
        tree = ast.parse(f.read(), filename=script)
    missing = sorted(
        m for m in _imported_modules(tree) if importlib.util.find_spec(m) is None
    )
    assert not missing, f"scripts/{script} imports missing modules: {missing}"
