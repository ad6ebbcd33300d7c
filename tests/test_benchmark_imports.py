"""The benchmark scripts (perfbench/run.py and the traced run it drives,
perfbench/traced.py) use package names and keywords no test calls.
Importing both, resolving every name they import (also inside function
bodies, where run.py imports lazily), and binding their calls of package
functions to the current signatures turns a deleted or renamed package
name or keyword into a test failure rather than a failed benchmark run.
Importing either script has no side effects."""

import ast
import importlib
import inspect
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "perfbench"
PKG = "dbpedia_spotlight_spark"


@pytest.fixture
def bench_on_path():
    sys.path.insert(0, str(BENCH))
    try:
        yield
    finally:
        sys.path.remove(str(BENCH))


def _imported(tree):
    """{bound name: object} of every `from … import …` in `tree`."""
    bound = {}
    for node in ast.walk(tree):
        if (not isinstance(node, ast.ImportFrom) or node.level
                or node.module == "__future__"):
            continue
        module = importlib.import_module(node.module)
        for alias in node.names:
            if not hasattr(module, alias.name):
                # a submodule not yet imported by its package
                importlib.import_module(f"{node.module}.{alias.name}")
            bound[alias.asname or alias.name] = getattr(module, alias.name)
    return bound


def _callee(func, bound):
    """The package object that a call's `f(…)` or `module.f(…)` names,
    or None."""
    if isinstance(func, ast.Name):
        obj = bound.get(func.id)
    elif isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        obj = getattr(bound.get(func.value.id), func.attr, None)
    else:
        return None
    return obj if getattr(obj, "__module__", "").startswith(PKG) else None


@pytest.mark.parametrize("script", ["run", "traced"])
def test_benchmark_script_names_and_keywords_exist(bench_on_path, script):
    importlib.import_module(script)
    tree = ast.parse((BENCH / f"{script}.py").read_text(encoding="utf-8"))
    bound = _imported(tree)
    checked = 0
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        obj = _callee(node.func, bound)
        if obj is None or any(isinstance(a, ast.Starred) for a in node.args):
            continue
        keywords = {k.arg: None for k in node.keywords if k.arg is not None}
        # raises TypeError on a keyword or positional the callee lost
        inspect.signature(obj).bind_partial(*node.args, **keywords)
        checked += 1
    assert checked, f"{script}.py calls no package function"
