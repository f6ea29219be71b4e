"""Every engine name that a non-test caller uses resolves.

The driver contract (`__spark_entry__.py`), the graft harness (`bench.py`,
`bench_extra.py`), `scripts/` and the benchmark (`perfbench/`) call the
package by name, and no tier-1 test runs them, so a deleted or renamed
function would otherwise only fail at their next run. This test reads their
source with `ast` and checks, per function scope:

- every `from osm_public_space_mapper_spark… import X` (and
  `from __spark_entry__ import X`) names an attribute or a submodule;
- every `a.b.c` chain that starts at an imported package module (for example
  `joins.subdivide_tiles`, `geofence.pip_join_expr`, `E._polygon_layer`)
  resolves attribute by attribute while it stays on a module.
"""

import ast
import importlib
import os
from types import ModuleType

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("osm_public_space_mapper_spark", "__spark_entry__")


def _caller_files() -> list[str]:
    files = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    for d in ("scripts", "perfbench"):
        files += sorted(os.path.join(ROOT, d, f) for f in os.listdir(os.path.join(ROOT, d)) if f.endswith(".py"))
    return files


def _own_nodes(scope: ast.AST):
    """The nodes of `scope` outside its nested function scopes, and those
    nested function definitions."""
    for child in ast.iter_child_nodes(scope):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield child, True
        else:
            yield child, False
            yield from _own_nodes(child)


def _bind(node, env: dict, problems: list[str], where: str) -> None:
    if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module.split(".")[0] in ROOTS:
        mod = importlib.import_module(node.module)
        for a in node.names:
            if hasattr(mod, a.name):
                env[a.asname or a.name] = getattr(mod, a.name)
                continue
            try:
                env[a.asname or a.name] = importlib.import_module(f"{node.module}.{a.name}")
            except ModuleNotFoundError:
                problems.append(f"{where}:{node.lineno} from {node.module} import {a.name}")
    elif isinstance(node, ast.Import):
        for a in node.names:
            top = a.name.split(".")[0]
            if top in ROOTS:
                mod = importlib.import_module(a.name)
                env[a.asname or top] = mod if a.asname else importlib.import_module(top)


def _resolve(expr, env: dict, problems: list[str], where: str):
    """The object `expr` names if it is a chain from a bound package module;
    None when the chain leaves the modules (or does not start at one)."""
    if isinstance(expr, ast.Name):
        return env.get(expr.id)
    if isinstance(expr, ast.Attribute):
        obj = _resolve(expr.value, env, problems, where)
        if isinstance(obj, ModuleType):
            if not hasattr(obj, expr.attr):
                problems.append(f"{where}:{expr.lineno} {obj.__name__}.{expr.attr}")
                return None
            return getattr(obj, expr.attr)
    return None


def _check_scope(scope: ast.AST, env: dict, problems: list[str], where: str) -> None:
    env = dict(env)
    nodes = list(_own_nodes(scope))
    for node, _ in nodes:
        _bind(node, env, problems, where)
    for node, nested in nodes:
        if nested:
            _check_scope(node, env, problems, where)
        elif isinstance(node, ast.Attribute):
            _resolve(node, env, problems, where)


@pytest.mark.parametrize("path", _caller_files(), ids=lambda p: os.path.relpath(p, ROOT))
def test_caller_names_resolve(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    problems: list[str] = []
    _check_scope(tree, {}, problems, os.path.relpath(path, ROOT))
    assert not sorted(set(problems)), sorted(set(problems))
