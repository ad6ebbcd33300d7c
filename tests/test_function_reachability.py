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

A second test does the same for parameters: every parameter of a live
function (outside `fixtures/`) that a call may leave out or must give by
keyword is given by some call in a non-test source (an entry point or a
package module), or is declared here with its reason. A call gives it
when a call of the function's short name (the class name for `__init__`)
passes it by keyword, positionally at or past its index, or through
`*`/`**`. A parameter nobody gives is a constant; one only tests give is
an option kept for tests, which is declared only when it is a size gate
or path switch letting a test reach at test size what production reaches
at scale.

A third test checks imports: every name a package module imports is used
in that module, so a dead import line cannot hide behind the rule that an
import alone is not a use."""

import ast

from test_module_reachability import ENTRY_POINTS, PKG, ROOT

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)

DECLARED_FUNCTIONS = {}

DECLARED_PARAMETERS = {
    "operators.ann.embedding_neardup.exact_max_rows":
        "size gate: lets a test reach the banded-LSH path that corpora past "
        "NEARDUP_EXACT_MAX_ROWS take",
    "operators.cc.connected_components.force_distributed":
        "path switch: lets a test run the large/small-star loop that edge "
        "sets past DRIVER_CC_MAX_EDGES take",
    "operators.redirects.resolve_redirects_df.max_driver_edges":
        "size gate: lets a test reach the distributed closure that redirect "
        "tables past DRIVER_CLOSURE_MAX_EDGES take",
    "operators.spotting.spot_documents.params":
        "the AC spotter is the FSA spotter's parity reference: tests give "
        "both the same PipelineParams (overlap=True included), a dataclass "
        "field this guard does not follow",
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


def _parse(path):
    return ast.parse(path.read_text(encoding="utf-8"))


def _sources():
    """(trees of the entry points outside the package, {module: tree} of
    the package modules)."""
    pkg = ROOT / PKG
    entries = [_parse(p) for p in ENTRY_POINTS if not p.is_relative_to(pkg)]
    modules = {".".join(p.relative_to(pkg).with_suffix("").parts): _parse(p)
               for p in sorted(pkg.rglob("*.py"))}
    return entries, modules


def _live(entries, modules):
    """(every definition, the dotted names of those reached)."""
    named = set(_names(entries))
    defs = []
    for module, tree in modules.items():
        named.update(_names(_module_level(tree)))
        defs.extend(_definitions(module, tree))
    live, grew = set(), True
    while grew:
        grew = False
        for dotted, short, node in defs:
            if dotted not in live and short in named:
                live.add(dotted)
                named.update(_names(node.body))
                grew = True
    return defs, live


def unreached_functions():
    defs, live = _live(*_sources())
    return {dotted for dotted, _, _ in defs
            if not dotted.startswith("fixtures.")} - live


def test_only_declared_functions_are_unreached():
    assert unreached_functions() == set(DECLARED_FUNCTIONS)


def _callables(module, tree):
    """(dotted name, names a call of it goes by, def node, leading
    parameters a call does not spell) of top-level functions and methods;
    `__init__` is called by its class name (or through `super()`)."""
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield f"{module}.{node.name}", {node.name}, node, 0
        elif isinstance(node, ast.ClassDef):
            for item in node.body:
                if not isinstance(item, _DEFS):
                    continue
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in item.decorator_list)
                names = ({node.name, item.name} if item.name == "__init__"
                         else {item.name})
                yield (f"{module}.{node.name}.{item.name}", names, item,
                       0 if static else 1)


def _optional_parameters(node, skip):
    """(name, positional index or None) of every parameter that a call may
    leave out or must give by keyword."""
    a = node.args
    positional = (a.posonlyargs + a.args)[skip:]
    first = len(a.posonlyargs + a.args) - len(a.defaults) - skip
    for i, arg in enumerate(positional):
        if i >= first:
            yield arg.arg, i
    for arg in a.kwonlyargs:
        yield arg.arg, None


def _calls(trees):
    """{short callee name: [(positional count, keywords, spreads)]}."""
    calls = {}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            spreads = (any(isinstance(a, ast.Starred) for a in node.args)
                       or any(k.arg is None for k in node.keywords))
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, spreads))
    return calls


def unpassed_parameters(entries, modules):
    """`module.function.parameter` of every optional parameter of a live
    function (outside `fixtures/`) that no call in `entries` or `modules`
    gives: not by keyword, not positionally, not through `*`/`**`."""
    _, live = _live(entries, modules)
    calls = _calls([*entries, *modules.values()])
    unpassed = set()
    for module, tree in modules.items():
        if module.startswith("fixtures."):
            continue
        for dotted, names, node, skip in _callables(module, tree):
            if dotted not in live and node.name != "__init__":
                continue
            sites = [c for n in names for c in calls.get(n, ())]
            for param, index in _optional_parameters(node, skip):
                if not any(spreads or param in keywords
                           or (index is not None and index < n_positional)
                           for n_positional, keywords, spreads in sites):
                    unpassed.add(f"{dotted}.{param}")
    return unpassed


def test_only_declared_parameters_are_unpassed():
    found = unpassed_parameters(*_sources())
    assert found == set(DECLARED_PARAMETERS), sorted(
        found ^ set(DECLARED_PARAMETERS))


def test_parameter_guard_reports_a_test_only_keyword():
    """The checker on in-memory sources: `only_tests.k` is given by the
    test source alone (which the checker is never shown), `used.k` by a
    non-test call; only the first is reported."""
    package = {"mod": ast.parse(
        "def only_tests(x, k=1):\n    return x + k\n"
        "def used(x, k=1):\n    return x * k\n")}
    entry = ast.parse("from pkg.mod import only_tests, used\n"
                      "only_tests(1)\nused(1, k=2)\n")
    test_source = ast.parse("only_tests(1, k=3)\n")
    assert unpassed_parameters([entry], package) == {"mod.only_tests.k"}
    # what the test source passes counts only once it is a non-test source
    assert unpassed_parameters([entry, test_source], package) == set()


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
