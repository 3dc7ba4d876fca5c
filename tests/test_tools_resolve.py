"""Static check that every script under ``tools/`` still resolves against
the package: each name a tool imports from ``data_lakehouse_hygiene_spark``
or ``__spark_entry__``, and each ``module.attr`` it reads off such an
import, must exist. Tools are not run by the suite, so a renamed or
reverted package name would otherwise only surface when someone launches
the tool. No Spark session is started — modules are imported, not run."""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))
PACKAGES = ("data_lakehouse_hygiene_spark", "__spark_entry__")


def _ours(name: str) -> bool:
    return name.split(".", 1)[0] in PACKAGES


def _resolve(mod: str, name: str):
    """``from mod import name`` — an attribute or a submodule."""
    m = importlib.import_module(mod)
    if hasattr(m, name):
        return getattr(m, name)
    try:
        return importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return None


def _missing(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    bound: dict[str, object] = {}  # local name -> imported package module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _ours(a.name):
                    m = importlib.import_module(a.name)
                    top = a.name.split(".", 1)[0]
                    bound[a.asname or top] = (
                        m if a.asname else importlib.import_module(top)
                    )
        elif isinstance(node, ast.ImportFrom) and node.module and _ours(
            node.module
        ):
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if obj is None:
                    missing.append(
                        f"{path.name}:{node.lineno} {node.module}.{a.name}"
                    )
                elif isinstance(obj, types.ModuleType):
                    bound[a.asname or a.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
            and not hasattr(bound[node.value.id], node.attr)
        ):
            missing.append(
                f"{path.name}:{node.lineno} {node.value.id}.{node.attr}"
            )
    return missing


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_names_resolve_against_package(path):
    assert _missing(path) == []
