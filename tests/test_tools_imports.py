"""The probe and audit scripts under ``tools/`` import package names
inside their functions, so nothing fails until someone runs them. This
pins that every ``from concerts_etl_sa_spark... import name`` in
``tools/*.py`` still resolves — a deletion or rename in the package
that leaves a tool stale fails here instead — and that every keyword a
tool passes to a package function is still a parameter of it, whether
the function was imported by name or is reached through a module alias
(``PQ.pq_train_fused(...)``)."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import types

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
                    yield path.name, node.module, alias.name, alias.asname


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds, or None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # `from pkg import submodule`
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def test_tools_package_imports_resolve():
    found = list(_package_imports())
    assert found, "no package imports found under tools/"
    stale = [
        f"{tool}: from {module} import {name}"
        for tool, module, name, _ in found
        if _resolve(module, name) is None
    ]
    assert not stale, stale


def _package_calls():
    """(tool, line, function, keyword names) for every call a tool makes
    to a package function, imported by name or via a module alias."""
    for path in sorted(TOOLS.glob("*.py")):
        tree = ast.parse(path.read_text())
        bound = {}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == PKG
            ):
                for alias in node.names:
                    obj = _resolve(node.module, alias.name)
                    if obj is not None:
                        bound[alias.asname or alias.name] = obj
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            target = None
            if isinstance(fn, ast.Name):
                target = bound.get(fn.id)
            elif isinstance(fn, ast.Attribute) and isinstance(
                fn.value, ast.Name
            ):
                mod = bound.get(fn.value.id)
                if isinstance(mod, types.ModuleType):
                    target = getattr(mod, fn.attr, None)
                    assert target is not None, (
                        f"{path.name}:{node.lineno}: "
                        f"{fn.value.id}.{fn.attr} does not exist"
                    )
            if isinstance(target, types.FunctionType):
                kws = [k.arg for k in node.keywords if k.arg is not None]
                yield path.name, node.lineno, target, kws


def test_tools_call_keywords_match_signatures():
    calls = list(_package_calls())
    assert calls, "no package function calls found under tools/"
    bad = []
    for tool, line, fn, kws in calls:
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        bad += [
            f"{tool}:{line}: {fn.__name__}() has no parameter {kw!r}"
            for kw in kws
            if kw not in params
        ]
    assert not bad, bad
