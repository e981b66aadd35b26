"""Every name a script imports from the package still exists.

The scripts are not run by the suite, so a change that deletes or
renames a package name can leave a script that fails at its first
line. This check parses each ``scripts/*.py`` with ``ast`` and resolves
its package imports with ``importlib`` — no Spark session, no script
code executed. Attribute loads on an imported package module
(``sim.some_kernel``) are resolved too.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

PKG = "full_stack_big_data_spark"
SCRIPTS = sorted((pathlib.Path(__file__).resolve().parents[1]
                  / "scripts").glob("*.py"))


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds, or None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(script):
    tree = ast.parse(script.read_text(), filename=str(script))
    modules: dict[str, types.ModuleType] = {}   # local alias → module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "") \
                .split(".")[0] == PKG:
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if obj is None:
                    missing.append(f"{node.module}.{a.name}")
                elif isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
                and not hasattr(modules[node.value.id], node.attr)):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    assert not missing, f"{script.name} uses removed names: {missing}"
