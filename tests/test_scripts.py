"""Static checks on the one-off scripts under scripts/: nothing imports
them, so a change to the package can leave one broken unnoticed."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "azure_serverless_etl_pipeline_spark"
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(script):
    """Every ``from azure_serverless_etl_pipeline_spark... import name``
    in the script names an attribute (or submodule) of that module."""
    missing = []
    for node in ast.walk(ast.parse(script.read_text(), str(script))):
        if not (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == PACKAGE
        ):
            continue
        module = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(module, alias.name):
                continue
            try:
                importlib.import_module(f"{node.module}.{alias.name}")
            except ModuleNotFoundError:
                missing.append(f"{node.module}.{alias.name} (line {node.lineno})")
    assert not missing, missing
