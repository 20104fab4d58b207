"""Every package name a script under ``tools/`` imports must exist.

The scripts are not run by the suite, so a renamed or deleted operator
would otherwise leave them dangling until someone runs them. Parsed with
``ast``: ``from <package>.x import name`` must resolve to an attribute or
submodule of ``<package>.x``, and ``alias.attr`` must resolve wherever
``alias`` is a package module bound by ``from <package>.x import mod [as
alias]`` or ``import <package>.x as alias``."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

PKG = "recommender_system_with_pyspark_spark"
TOOLS = sorted((pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _dangling(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    missing, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except (ImportError, AttributeError):
                    missing.append(f"{node.module}.{a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    return missing


def test_tools_exist():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_package_imports_resolve(path):
    assert _dangling(path) == []
