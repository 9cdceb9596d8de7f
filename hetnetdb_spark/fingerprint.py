"""Code fingerprints for named queries.

A query's fingerprint is a sha1 over its oracle SQL and the
``ast.dump`` of the code it runs:

- the function ``registry.query`` received, without its decorators;
- every top-level statement (def, class or assignment) that code
  reaches by name, followed transitively through plain names and
  ``module.attr`` references into the same root package.

Docstrings are stripped and ``ast.dump`` carries no line numbers, so
comment, docstring and line-shift edits leave a fingerprint as it
was. A module constant enters through the statement that defines it,
never through its runtime value: scratch paths embed the checkout
path and the pid.

Blind spots: code outside the root package (a pyspark or pandas
upgrade changes no fingerprint) and references by string (a query
looked up as ``QUERIES["name"]``, a view named in SQL text).

This module imports only the standard library, so a tool can load it
by file path into a process that imports an older checkout.
"""

from __future__ import annotations

import ast
import copy
import functools
import hashlib
import importlib.util

_DOCUMENTED = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@functools.cache
def _source(modname: str) -> str | None:
    """Path of ``modname``'s source file, None when it is no module."""
    try:
        spec = importlib.util.find_spec(modname)
    except (ImportError, ValueError):
        return None
    origin = spec.origin if spec else None
    return origin if origin and origin.endswith(".py") else None


def _imports(nodes, modname: str, is_pkg: bool) -> dict[str, str]:
    """``{bound name: dotted target}`` for the import statements in *nodes*."""
    package = modname if is_pkg else modname.rpartition(".")[0]
    bound = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = a.name
                else:
                    head = a.name.split(".")[0]
                    bound[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = package.split(".")
            base = base[: len(base) - node.level + 1] if node.level else []
            src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                bound[a.asname or a.name] = f"{src}.{a.name}"
    return bound


@functools.cache
def _module(modname: str):
    """Docstring-stripped top-level statements of ``modname``, the
    statements binding each name, and the module's imports."""
    path = _source(modname)
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, _DOCUMENTED) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first.value, "value", None), str
            ):
                node.body = node.body[1:] or [ast.Pass()]
    defs: dict[str, list[int]] = {}
    for i, stmt in enumerate(tree.body):
        names = {stmt.name} if isinstance(stmt, _DEFS) else {
            n.id for n in ast.walk(stmt) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        }
        for name in names:
            defs.setdefault(name, []).append(i)
    top = [n for s in tree.body if not isinstance(s, _DEFS) for n in ast.walk(s)]
    return tree, defs, _imports(top, modname, path.endswith("__init__.py"))


def _follow(dotted: str, rest: list[str], root: str) -> list[tuple[str, int]]:
    """Statements a dotted target plus attribute chain resolves to."""
    if dotted.split(".")[0] != root:
        return []
    while _source(dotted) is not None:
        if not rest:
            return []
        dotted, rest = f"{dotted}.{rest[0]}", rest[1:]
    modname, _, name = dotted.rpartition(".")
    if _source(modname) is None:
        return []
    _, defs, imports = _module(modname)
    if name in imports:
        return _follow(imports[name], rest, root)
    return [(modname, i) for i in defs.get(name, ())]


def _scan(mod: str, stmt) -> tuple[str, tuple[tuple[str, int], ...]]:
    """A statement's dump and the top-level statements it names."""
    _, defs, imports = _module(mod)
    nodes = list(ast.walk(stmt))
    bound = {**imports, **_imports(nodes, mod, _source(mod).endswith("__init__.py"))}
    targets = []
    for node in nodes:
        # Name chains the statement loads: ``x``, ``mod.attr``.
        chain = []
        while isinstance(node, ast.Attribute):
            chain.insert(0, node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            continue
        if node.id in bound:
            targets += _follow(bound[node.id], chain, mod.split(".")[0])
        else:
            targets += [(mod, i) for i in defs.get(node.id, ())]
    return f"{mod}\n{ast.dump(stmt)}", tuple(dict.fromkeys(targets))


@functools.cache
def _visit(mod: str, index: int):
    return _scan(mod, _module(mod)[0].body[index])


def fingerprint(fn, oracle_sql: str | None) -> str:
    """sha1 over *oracle_sql* and the code *fn* reaches (module docstring)."""
    modname = fn.__module__
    first = fn.__code__.co_firstlineno
    node = next(
        n
        for n in ast.walk(_module(modname)[0])
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name == fn.__name__
        and min([n.lineno] + [d.lineno for d in n.decorator_list]) == first
    )
    node = copy.copy(node)
    node.decorator_list = []
    part, queue = _scan(modname, node)
    parts, seen = [part], set(queue)
    queue = list(queue)
    while queue:
        part, targets = _visit(*queue.pop())
        parts.append(part)
        for key in targets:
            if key not in seen:
                seen.add(key)
                queue.append(key)
    digest = hashlib.sha1((oracle_sql or "").encode())
    for part in sorted(parts):
        digest.update(part.encode())
    return digest.hexdigest()


if __name__ == "__main__":
    # `python <path to this file>` prints {name: fingerprint} for the
    # registry of the checkout in the working directory; tools/certify.py
    # runs it in an exported older tree.
    import json
    import os
    import sys

    sys.path[0] = os.getcwd()
    from hetnetdb_spark import registry

    if not registry.__file__.startswith(os.getcwd()):
        raise SystemExit(f"imported {registry.__file__}, not the tree in {os.getcwd()}")
    registry.load_all()
    funcs = {n: getattr(f, "__wrapped__", f) for n, f in registry.QUERIES.items()}
    print(json.dumps({n: fingerprint(f, registry.ORACLE.get(n)) for n, f in funcs.items()}))
