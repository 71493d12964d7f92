"""The probe and audit scripts under ``tools/`` import package names
inside their functions, so nothing fails until someone runs them. This
pins that every ``from concerts_etl_sa_spark... import name`` in
``tools/*.py`` still resolves — a deletion or rename in the package
that leaves a tool stale fails here instead."""

from __future__ import annotations

import ast
import importlib
import pathlib

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"
PKG = "concerts_etl_sa_spark"


def _package_imports():
    for path in sorted(TOOLS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == PKG
            ):
                for alias in node.names:
                    yield path.name, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tools_package_imports_resolve():
    found = list(_package_imports())
    assert found, "no package imports found under tools/"
    stale = [
        f"{tool}: from {module} import {name}"
        for tool, module, name in found
        if not _resolves(module, name)
    ]
    assert not stale, stale
