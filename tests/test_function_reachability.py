"""Every top-level package function and method is named from a non-test
entry point, or from the body of a function that is, or is a declared
reference listed here with the reason that keeps it.

The roots are the module guard's entry points (whole files outside the
package), the module-level code of every package module (decorators,
defaults, registries and class bodies), and every dunder method. A name
counts when it appears as a `Name`, an `Attribute` or the source of a
renamed import (`import f as g`); an import alone is not a use.
`fixtures/` is test support: its functions are followed when an entry
point reaches them (perfbench builds its inputs and oracle answers with
them), but an unreached one is not an error.

A second test checks imports: every name a package module imports is used
in that module, so a dead import line cannot hide behind the rule that an
import alone is not a use."""

import ast

from test_module_reachability import ENTRY_POINTS, PKG, ROOT

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)

DECLARED_FUNCTIONS = {
    "operators.ann.cosine_expr":
        "JVM fold-order reference test_r06_kernels checks the kernels against",
    "operators.ann._dot": "part of the cosine_expr reference",
    "operators.ann._norm": "part of the cosine_expr reference",
    "operators.fsa_spotting._scan_span":
        "per-span reference for _scan_spans_batch",
    "streaming.er_stream.run_er_stream":
        "COVERAGE.md §2.12 streaming driver; gate er_incremental checks its "
        "state algebra",
    "streaming.er_stream.update_er_state": "state update of run_er_stream",
    "streaming.er_stream._latest_state": "state read of run_er_stream",
}


def _names(nodes):
    """Every name that `nodes` (and everything under them) refer to."""
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                yield node.id
            elif isinstance(node, ast.Attribute):
                yield node.attr
            elif isinstance(node, ast.alias) and node.asname:
                # a plain import is counted where the name is used
                yield node.name.rpartition(".")[2]


def _module_level(tree):
    """The code a module runs on import, function and method bodies left out;
    also the dunder methods, which the runtime calls by protocol."""
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield from node.decorator_list
            yield from node.args.defaults
            yield from filter(None, node.args.kw_defaults)
        elif isinstance(node, ast.ClassDef):
            yield from node.decorator_list + node.bases
            for item in node.body:
                if not isinstance(item, _DEFS) or _is_dunder(item.name):
                    yield item
                else:
                    yield from item.decorator_list
        else:
            yield node


def _is_dunder(name):
    return name.startswith("__") and name.endswith("__")


def _definitions(module, tree):
    """(dotted name, short name, def node) of top-level functions and of
    methods other than dunders, which are roots."""
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield f"{module}.{node.name}", node.name, node
        elif isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, _DEFS) and not _is_dunder(item.name):
                    yield f"{module}.{node.name}.{item.name}", item.name, item


def unreached_functions():
    pkg = ROOT / PKG
    named = set()
    for path in ENTRY_POINTS:
        if not path.is_relative_to(pkg):
            named.update(_names([ast.parse(path.read_text(encoding="utf-8"))]))
    defs = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        tree = ast.parse(path.read_text(encoding="utf-8"))
        named.update(_names(_module_level(tree)))
        module = ".".join(rel.with_suffix("").parts)
        defs.extend(_definitions(module, tree))
    live, grew = set(), True
    while grew:
        grew = False
        for dotted, short, node in defs:
            if dotted not in live and short in named:
                live.add(dotted)
                named.update(_names(node.body))
                grew = True
    return {dotted for dotted, _, _ in defs
            if not dotted.startswith("fixtures.")} - live


def test_only_declared_functions_are_unreached():
    assert unreached_functions() == set(DECLARED_FUNCTIONS)


def _bound_imports(tree):
    """(line, bound name) of every import in `tree`, at any depth."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                bound = alias.asname or alias.name.partition(".")[0]
                yield node.lineno, bound


def unused_imports():
    unused = set()
    for path in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        used = {node.id for node in ast.walk(tree)
                if isinstance(node, ast.Name)}
        rel = path.relative_to(ROOT / PKG).as_posix()
        unused.update(f"{rel}:{line} {name}"
                      for line, name in _bound_imports(tree)
                      if name not in used)
    return unused


def test_every_package_import_is_used():
    assert unused_imports() == set()
