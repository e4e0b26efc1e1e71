"""Every ``tools/*.py`` script and Makefile target points at live code.

The scripts are run by hand, so nothing else notices when a package
module or function they import is deleted.  This parses each script
with ``ast`` (running none of them) and checks that every package
module it imports exists, and that every name it takes from one, by
``from ... import`` or as ``module.attr``, is defined there.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import re
from pathlib import Path

import pytest

PKG = "prometheus_anomaly_detection_lstm_spark"
REPO = Path(__file__).resolve().parents[1]
TOOLS = sorted((REPO / "tools").glob("*.py"))


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


def _defines(module: str, name: str) -> bool:
    # a module attribute, or a submodule as in ``from pkg.plans import wave8``
    mod = importlib.import_module(module)
    return hasattr(mod, name) or _is_module(f"{module}.{name}")


def _package_refs(tree: ast.AST) -> tuple[set[str], set[tuple[str, str]]]:
    modules: set[str] = set()
    names: set[tuple[str, str]] = set()
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    modules.add(a.name)
                    if a.asname:
                        aliases[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] != PKG:
                continue
            modules.add(node.module)
            for a in node.names:
                names.add((node.module, a.name))
                sub = f"{node.module}.{a.name}"
                if _is_module(sub):
                    aliases[a.asname or a.name] = sub
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            names.add((aliases[node.value.id], node.attr))
    return modules, names


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_imports_resolve(path):
    modules, names = _package_refs(ast.parse(path.read_text()))
    missing = [m for m in sorted(modules) if not _is_module(m)]
    missing += [
        f"{m}.{n}"
        for m, n in sorted(names)
        if m not in missing and not _defines(m, n)
    ]
    assert not missing, f"{path.name} imports missing package code: {missing}"


def test_makefile_tool_paths_exist():
    paths = re.findall(r"tools/[\w./-]+\.py", (REPO / "Makefile").read_text())
    assert paths  # the Makefile does reference tools
    missing = [p for p in paths if not (REPO / p).exists()]
    assert not missing, f"Makefile names missing scripts: {missing}"
