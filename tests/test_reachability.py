"""Every top-level definition in every module of the package must be
reachable from something that runs it.

Parses the package with ``ast`` and follows names from the roots — the
query functions in ``REGISTRY``, ``__main__.main``, ``runner.Service``,
and everything ``perfbench/*.py``, ``bench.py`` and
``__spark_entry__.py`` reference — through every top-level function and
class body in the package.  A top-level definition anywhere in the
package that no root reaches is code only tests run.  Names are followed
without resolving imports, so a collision can only make a definition
look used, never flag a used one.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "paas_auditor_spark")


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` loads or reads as an attribute."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def unreachable() -> list[str]:
    from paas_auditor_spark.queries import REGISTRY

    defs: dict[str, list[ast.AST]] = {}  # top-level name -> its definitions
    found: list[tuple[str, str]] = []  # (module path, name)
    roots = {spec.fn.__name__ for spec in REGISTRY.values()}
    roots |= {"main", "Service"}
    for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(node.name, []).append(node)
                found.append((rel, node.name))
            else:
                # module-level statements run on import
                roots |= _names(node)
    for path in glob.glob(os.path.join(ROOT, "perfbench", "*.py")) + [
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]:
        roots |= _names(_parse(path))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs.get(name, ()):
            todo.extend(_names(node) - reached)
    return [f"{rel}::{name}" for rel, name in found if name not in reached]


def test_package_code_is_reachable():
    dead = unreachable()
    assert dead == [], (
        "top-level definitions that no registry query, the CLI, the "
        f"Service or the benchmark reaches: {dead}"
    )
