"""The traced benchmark run (perfbench/traced.py) wraps engine calls by
name and imports engine functions by name: each of those names must
exist, or the traced run breaks only when it is next run."""

from __future__ import annotations

import ast
import importlib
import inspect
import os

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture
def traced(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    return importlib.import_module("traced")


def test_every_trace_target_exists(traced):
    missing = [
        f"{name}: {getattr(owner, '__name__', owner)}.{attr}"
        for name, (owner, attr) in traced.targets().items()
        if not hasattr(owner, attr)
    ]
    assert traced.targets() and not missing


def test_every_probe_import_exists(traced):
    tree = ast.parse(inspect.getsource(traced.function_probes))
    imports = [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module.startswith("tvbigdataproject_spark")
        for alias in node.names
    ]
    assert imports
    missing = [f"{m}.{n}" for m, n in imports if not hasattr(importlib.import_module(m), n)]
    assert not missing
