"""Every ``tools/*.py`` script imports cleanly.

The tools are run by hand (training the frozen artifacts, plan guards,
probes), so nothing else in the suite imports most of them: a renamed
or deleted package function they import at top level would otherwise
break them silently. Importing runs no ``__main__`` body.
"""

from __future__ import annotations

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem for p in (pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py")
)


def test_tools_dir_is_not_empty():
    assert len(TOOLS) >= 13, TOOLS


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
