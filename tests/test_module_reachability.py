"""Every package module is imported from a non-test entry point, or is a
declared capability listed here with the COVERAGE.md row that keeps it."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dbpedia_spotlight_spark"
ENTRY_POINTS = [
    ROOT / PKG / "cli.py",
    ROOT / PKG / "package.py",
    ROOT / PKG / "plans" / "driver_queries.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
    *(p for p in (ROOT / "perfbench").glob("*.py")
      if not p.name.startswith("test_")),
]
DECLARED_UNREACHABLE = {}


def _module_file(name):
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_names(path):
    package = list(path.relative_to(ROOT).parts[:-1])  # relative-import base
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            level = node.level
            base = package[: len(package) + 1 - level] if level else []
            module = ".".join(base + ([node.module] if node.module else []))
            yield module
            yield from (f"{module}.{alias.name}" for alias in node.names)


def _reachable():
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]))
                if found is not None:
                    todo.append(found)
    return seen


def test_only_declared_capabilities_are_unreachable():
    modules = {p for p in (ROOT / PKG).rglob("*.py")
               if p.name != "__init__.py"}
    unreached = {
        ".".join(p.relative_to(ROOT / PKG).with_suffix("").parts)
        for p in modules - _reachable()
    }
    assert unreached == set(DECLARED_UNREACHABLE)
