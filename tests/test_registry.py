"""The query registry is the one list of query names: its first 50 names
are pinned to the committed correctness artifact, and every record's plan
passes the plan audit with exactly the allowances it declares. Every
top-level definition of the package is read by code outside tests/ or is a
declared public entry point, and every bool switch of the package is set
by a call outside tests/ or is declared with its reason."""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

from copernicusdata_jl_spark.queries import REGISTRY

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "copernicusdata_jl_spark"

# Package definitions that nothing in the repository calls but that stay as
# entry points for callers outside it, one reason each.
PUBLIC_API = (
    # the streaming front doors (the planned per-stage run records wire them)
    "streaming.hygiene.start_stream_hygiene",
    "streaming.ingest.start_stream_ingest",
    "streaming.spatial.start_stream_spatial",
    # the combining reads of those front doors' partials
    "streaming.hygiene.read_stream_hygiene",
    "streaming.spatial.read_stream_tiles",
    "streaming.spatial.read_stream_lineage",
    # the reference's S11/S12 upload capability, checked against moto
    "sources.s3.upload_tree_to_s3",
    "sources.s3.download_tree_from_s3",
    # s3a deployment wiring of a session
    "sources.s3.configure_s3",
    # the bounded-memory Zarr read entry point (the driver path is the other)
    "sources.zarr.scan_zarr_distributed",
    # a payload processing unit that a payload spec resolves by name
    "plans.example_processor.layer_stats",
)


def test_snapshot_order_matches_correctness_artifact():
    with open(REPO / "CORRECTNESS_r05.json") as f:
        snapshot = list(json.load(f))
    assert list(REGISTRY)[:50] == snapshot


def test_plan_audit_has_no_violations(spark):
    from tools.plan_audit import audit

    inventory, violations = audit(spark, SF_DIR)
    assert len(inventory) == len(REGISTRY)
    assert violations == []


def _top_level_definitions(tree):
    """(name, node) of every top-level def, class and assignment target of
    a module."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, node


def _code_trees():
    """Path → AST of every repo ``.py`` file outside tests/."""
    return {
        p: ast.parse(p.read_text())
        for p in REPO.rglob("*.py")
        if p.relative_to(REPO).parts[0] != "tests"
        and not any(part.startswith(".") or part == "__pycache__" for part in p.relative_to(REPO).parts)
    }


def _code_names(tree, skip=()):
    """Every name a module's code reads: loaded ``Name`` ids and
    ``Attribute`` attrs (f-string expressions parse into the same nodes) and
    the parts of imported names. Strings, comments and docstrings are not
    code; the subtrees in ``skip`` (a definition itself, a package's
    re-exports) are left out."""
    stack = [tree]
    while stack:
        node = stack.pop()
        if any(node is s for s in skip):
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            yield node.id
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")
        stack.extend(ast.iter_child_nodes(node))


def _reexports(path, tree):
    """A package ``__init__.py``'s relative imports: re-exporting a name
    from a submodule is not a use of it."""
    if path.name != "__init__.py":
        return []
    return [n for n in tree.body if isinstance(n, ast.ImportFrom) and n.level]


def test_every_package_definition_is_referenced():
    """Every top-level def, class and assignment of the package is read by
    code outside its own definition and outside tests/: in its module, in
    another repo ``.py`` file, or named in a ``tests/resources/*.toml``
    payload spec (which resolves processing units by name) — or it is
    listed in ``PUBLIC_API``. A test, docstring, comment or string naming a
    definition, or a package ``__init__.py`` re-exporting it, is not a use
    of it, and a ``PUBLIC_API`` entry that names no definition fails too."""
    trees = _code_trees()
    names = {p: set(_code_names(t, skip=_reexports(p, t))) for p, t in trees.items()}
    specs = set().union(*(re.findall(r"\w+", p.read_text()) for p in (REPO / "tests" / "resources").glob("*.toml")))
    dead, defined = [], set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        others = specs.union(*(n for p, n in names.items() if p != path))
        for name, node in _top_level_definitions(trees[path]):
            defined.add(f"{module}.{name}")
            if name in others or f"{module}.{name}" in PUBLIC_API:
                continue
            if name not in set(_code_names(trees[path], skip=[node])):
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {name}")
    assert dead == [], dead
    assert sorted(set(PUBLIC_API) - defined) == []


# Bool parameters with a default that no call outside tests/ sets, each
# with its reason. Any other such switch selects a code path that only
# tests take, and goes.
UNSET_SWITCHES = (
    # reference T3: map_over_subtrees(; all_nodes) visits nodes without data
    "sources.datatree.map_over_subtrees.all_nodes",
    # deployment settings of the S3 entry points
    "sources.s3.configure_s3.path_style",
    "sources.s3.upload_tree_to_s3.overwrite",
    # the streaming front doors' trigger: drain and stop, or run continuously
    "streaming.hygiene.start_stream_hygiene.available_now",
    "streaming.ingest.start_stream_ingest.available_now",
    "streaming.spatial.start_stream_spatial.available_now",
)


def _bool_switches(tree):
    """(function, parameter, positional index or None) of every parameter
    of every function or method whose default is ``True`` or ``False``;
    the index does not count a method's ``self``/``cls``."""
    for parent in ast.walk(tree):
        for node in ast.iter_child_nodes(parent):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            bound = isinstance(parent, ast.ClassDef) and not any(
                isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list
            )
            defaults = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            for arg, default in defaults + list(zip(a.kwonlyargs, a.kw_defaults)):
                if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                    index = positional.index(arg) - bound if arg in positional else None
                    yield node.name, arg.arg, index


def test_every_bool_switch_is_set_outside_tests():
    """Every bool parameter with a default is set — by keyword, or by
    position — by some call outside tests/ to a function of that name, or
    is listed in ``UNSET_SWITCHES`` with its reason. An entry that names
    no switch, or a switch that some caller sets, fails too."""
    trees = _code_trees()
    calls = [n for t in trees.values() for n in ast.walk(t) if isinstance(n, ast.Call)]

    def callee(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None

    unset, switches = [], set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for fn, param, index in _bool_switches(trees[path]):
            name = f"{module}.{fn}.{param}"
            switches.add(name)
            if not any(
                callee(c) == fn
                and (any(k.arg == param for k in c.keywords) or (index is not None and len(c.args) > index))
                for c in calls
            ):
                unset.append(name)
    assert sorted(set(unset) - set(UNSET_SWITCHES)) == []
    assert sorted(set(UNSET_SWITCHES) - set(unset)) == []
