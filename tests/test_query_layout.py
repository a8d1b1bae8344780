"""The layout of ``filemapreduce_spark/queries`` and a freeze of the
registry (AST and ``load_all`` only; no Spark session).

- Query modules are named for their family, not for the round that
  added them, and they never import one another: shared code lives in
  ``filemapreduce_spark/operators``.
- ``load_all`` imports every module file.
- No module binds one top-level name twice, so no merge of two
  modules silently overrides a name.
- No library module keeps a memo of its own (a module-level
  ``*_CACHE`` or an ``id(spark)`` key): per-session values go through
  ``session.memo``, whose dict lives on the session.
- The registered names, oracles and result orders hash to a committed
  value: a change that only moves or deletes code leaves it alone.
"""

import ast
import hashlib
import re
from pathlib import Path

from filemapreduce_spark.queries import load_all

LIBRARY = Path(__file__).resolve().parent.parent / "filemapreduce_spark"
QUERIES = LIBRARY / "queries"
PKG = "filemapreduce_spark.queries"
MODULES = sorted(p.stem for p in QUERIES.glob("*.py") if p.stem != "__init__")

# sha256 over the sorted (name, oracle, order, sort) of every query
REGISTRY_SHA256 = "ed3e78776bac73e171c27dbf4dacc2c5ea598fb7bd5d93574437a739db60d043"


def _tree(module: str) -> ast.Module:
    return ast.parse((QUERIES / f"{module}.py").read_text())


def test_query_modules_do_not_import_each_other():
    imports = []
    for module in MODULES:
        for node in ast.walk(_tree(module)):
            if isinstance(node, ast.ImportFrom):
                if node.level:
                    imports.append((module, "." * node.level + (node.module or "")))
                elif (node.module or "").startswith(PKG + "."):
                    imports.append((module, node.module))
                elif node.module == PKG:
                    imports += [(module, a.name) for a in node.names if a.name in MODULES]
            elif isinstance(node, ast.Import):
                imports += [
                    (module, a.name) for a in node.names if a.name.startswith(PKG + ".")
                ]
    assert imports == []


def test_query_modules_are_not_named_for_a_round():
    assert [m for m in MODULES if re.search(r"\d$", m)] == []
    assert len(MODULES) <= 15


def test_load_all_imports_every_module_file():
    fn = next(
        n
        for n in ast.parse((QUERIES / "__init__.py").read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "load_all"
    )
    imported = sorted(
        a.name
        for node in ast.walk(fn)
        if isinstance(node, ast.ImportFrom) and node.module == PKG
        for a in node.names
    )
    assert imported == MODULES
    registering = {spec.fn.__module__.rsplit(".", 1)[1] for spec in load_all().values()}
    assert registering == set(MODULES)


def test_no_top_level_name_is_bound_twice():
    twice = []
    for module in MODULES:
        seen = set()
        for node in _tree(module).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    n.id
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                ]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [(a.asname or a.name).split(".")[0] for a in node.names]
            else:
                continue
            twice += [(module, n) for n in names if n in seen]
            seen.update(names)
    assert twice == []


def test_no_module_keeps_its_own_session_memo():
    found = []
    for path in sorted(LIBRARY.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(LIBRARY))
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                found += [
                    (rel, t.id) for t in targets
                    if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
                ]
        found += [
            (rel, f"id(spark) at line {n.lineno}")
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "id"
            and len(n.args) == 1
            and isinstance(n.args[0], ast.Name)
            and n.args[0].id == "spark"
        ]
    assert found == []


def test_registry_names_oracles_and_orders_are_frozen():
    registry = load_all()
    h = hashlib.sha256()
    for name in sorted(registry):
        spec = registry[name]
        order = tuple((t.key, t.desc, t.nulls_first) for t in spec.order)
        h.update(repr((name, spec.oracle, order, spec.sort)).encode())
    assert len(registry) == 377
    assert h.hexdigest() == REGISTRY_SHA256
