"""Every Python source of the repository compiles with warnings as errors.

An invalid escape such as ``"\\."`` in a non-raw string is only a
``DeprecationWarning`` (``SyntaxWarning`` from 3.12) today, and a later
Python turns it into a ``SyntaxError`` at import. Compiling each file
under ``warnings.simplefilter("error")`` fails on it now instead.
"""

import ast
import hashlib
import os
import warnings

import __spark_entry__ as entry_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("powerpoint_context_extractor_spark", "tests", "scripts",
         "perfbench")
FILES = ("bench.py", "__spark_entry__.py")


def _sources():
    for tree in TREES:
        for d, _dirs, names in os.walk(os.path.join(ROOT, tree)):
            for name in sorted(names):
                if name.endswith(".py"):
                    yield os.path.join(d, name)
    for name in FILES:
        yield os.path.join(ROOT, name)


def test_every_source_compiles_without_warnings():
    paths = list(_sources())
    assert len(paths) > 50
    for path in paths:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(src, path, "exec")


def test_pii_scrub_oracle_sql_unchanged():
    """The '\\.' escapes of this oracle became '\\\\.': the same SQL."""
    sql = entry_mod.oracle_sql()["text_pii_scrub"]
    assert "\\." in sql and "\\\\" not in sql
    assert hashlib.sha256(sql.encode()).hexdigest() == (
        "8f4442d3e0126d16a05a405e2030a2c837f7af8f2661f7033c6fd9fa8763dc02")


# -- no test-only code in the package ----------------------------------

PACKAGE = "powerpoint_context_extractor_spark"
#: where a package name counts as used: everything but ``tests/``
USERS = (PACKAGE, "perfbench", "scripts", "__spark_entry__.py", "bench.py")


def _trees(paths):
    for rel in paths:
        path = os.path.join(ROOT, rel)
        if path.endswith(".py"):
            yield path
            continue
        for d, _dirs, names in os.walk(path):
            for name in sorted(names):
                if name.endswith(".py"):
                    yield os.path.join(d, name)


def _has_docstring(node) -> bool:
    body = getattr(node, "body", None)
    return (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and bool(body) and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str))


def _names_used(node):
    """Identifiers ``node`` refers to: names, attributes, import aliases
    and identifier-shaped string constants, skipping docstrings."""
    if isinstance(node, ast.Name):
        yield node.id
    elif isinstance(node, ast.Attribute):
        yield node.attr
    elif isinstance(node, ast.alias):
        yield from node.name.split(".")
        if node.asname:
            yield node.asname
    elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
          and node.value.isidentifier()):
        yield node.value
    doc = node.body[0] if _has_docstring(node) else None
    for child in ast.iter_child_nodes(node):
        if child is not doc:
            yield from _names_used(child)


def _defined(stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [
            stmt.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


def test_every_package_name_has_a_caller_outside_tests():
    """Each top-level function, class and assignment of the package is
    used, outside its own definition, somewhere other than ``tests/``:
    code whose only caller is a test lives in ``tests/``."""
    users = {}                            # name -> {(path, statement)}
    defined = []
    for path in _trees(USERS):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        in_package = path.startswith(os.path.join(ROOT, PACKAGE, ""))
        for i, stmt in enumerate(tree.body):
            names = _defined(stmt)
            if "__all__" in names or (i == 0 and _has_docstring(tree)):
                continue
            for name in _names_used(stmt):
                users.setdefault(name, set()).add((path, i))
            if in_package:
                defined += [(path, i, n) for n in names
                            if not (n.startswith("__") and n.endswith("__"))]
    assert len(defined) > 500
    unused = [f"{os.path.relpath(path, ROOT)}::{name}"
              for path, i, name in defined
              if not users.get(name, set()) - {(path, i)}]
    assert unused == [], "\n".join(unused)
