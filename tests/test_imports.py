"""Every package module and every tool script imports cleanly.

The suite runs with ``--continue-on-collection-errors``, so a dangling
import in a module that no test file imports would otherwise go unseen.
Importing runs no Spark job: the tools keep their work under ``main()``.
"""

from __future__ import annotations

import importlib
import importlib.util
import pkgutil
from pathlib import Path

import pytest

import etl_embargo_spark

REPO_ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO_ROOT / "tools").glob("*.py"))


def _package_modules() -> list[str]:
    return ["etl_embargo_spark"] + sorted(
        m.name
        for m in pkgutil.walk_packages(
            etl_embargo_spark.__path__, "etl_embargo_spark."
        )
    )


@pytest.mark.parametrize("name", _package_modules())
def test_package_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), path.name


def test_entry_module_imports():
    import __spark_entry__

    assert callable(__spark_entry__.entry)
