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


def _module_name(path: str) -> str:
    name = os.path.relpath(path, ROOT)[:-len(".py")].replace(os.sep, ".")
    return name[:-len(".__init__")] if name.endswith(".__init__") else name


def _imports(tree, module: str, is_package: bool):
    """(local name, source module, imported name or None) per import
    alias anywhere in ``tree``; None binds the module itself."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    yield a.asname, a.name, None
                else:
                    root = a.name.split(".")[0]
                    yield root, root, None
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                parts = parts[:len(parts) - node.level + is_package]
                base = ".".join(parts + ([node.module] if node.module
                                         else []))
            for a in node.names:
                yield a.asname or a.name, base, a.name


def _refs(node):
    """Names, attribute nodes and identifier-shaped string constants
    under ``node``, skipping docstrings."""
    if isinstance(node, ast.Name):
        yield "name", node
    elif isinstance(node, ast.Attribute):
        yield "attr", node
    elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
          and node.value.isidentifier()):
        yield "str", node
    doc = node.body[0] if _has_docstring(node) else None
    for child in ast.iter_child_nodes(node):
        if child is not doc:
            yield from _refs(child)


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
    code whose only caller is a test lives in ``tests/``.

    A use of name N defined in module M counts only in M itself, or in
    a module that imports N from M (directly or through a package
    re-export) and then uses that binding, or that imports M and reads
    attribute N of it. An identifier-shaped string N counts wherever it
    appears (the sweep reaches some names by string). A bare import, a
    same-named function in another module, or an attribute N of
    anything but module M does not count."""
    trees = {}
    for path in _trees(USERS):
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), path)
    modules = {_module_name(p): p for p in trees}
    pkg_prefix = os.path.join(ROOT, PACKAGE, "")
    defined = []                          # (module, name, path, statement)
    reexport = {}                         # (module, local) -> (module, name)
    binds = {}                            # path -> (local modules, names)
    for path, tree in trees.items():
        module = _module_name(path)
        in_package = path.startswith(pkg_prefix)
        mods, names = {}, {}
        for local, base, name in _imports(
                tree, module, path.endswith("__init__.py")):
            if name is None or f"{base}.{name}" in modules:
                mods[local] = base if name is None else f"{base}.{name}"
            else:
                names[local] = (base, name)
                if in_package:
                    reexport[(module, local)] = (base, name)
        binds[path] = mods, names
        if in_package:
            for i, stmt in enumerate(tree.body):
                defined += [(module, n, path, i) for n in _defined(stmt)
                            if not (n.startswith("__") and n.endswith("__"))]
    keys = {(module, n) for module, n, _path, _i in defined}

    def resolve(key):
        for _ in range(8):                # follow re-export chains
            if key in keys or key not in reexport:
                break
            key = reexport[key]
        return key

    def module_of(expr, mods):
        if isinstance(expr, ast.Name):
            return mods.get(expr.id)
        if isinstance(expr, ast.Attribute):
            inner = module_of(expr.value, mods)
            if inner and f"{inner}.{expr.attr}" in modules:
                return f"{inner}.{expr.attr}"
        return None

    used = {}                             # key -> {(path, statement)}
    strings = {}                          # identifier -> {(path, statement)}
    for path, tree in trees.items():
        module = _module_name(path)
        mods, names = binds[path]
        for i, stmt in enumerate(tree.body):
            if "__all__" in _defined(stmt) or (
                    i == 0 and _has_docstring(tree)):
                continue
            for kind, node in _refs(stmt):
                if kind == "str":
                    strings.setdefault(node.value, set()).add((path, i))
                    continue
                if kind == "name":
                    key = names.get(node.id, (module, node.id))
                else:
                    owner = module_of(node.value, mods)
                    if owner is None:
                        continue
                    key = (owner, node.attr)
                used.setdefault(resolve(key), set()).add((path, i))
    assert len(defined) > 500
    unused = [f"{os.path.relpath(path, ROOT)}::{name}"
              for module, name, path, i in defined
              if not (used.get((module, name), set())
                      | strings.get(name, set())) - {(path, i)}]
    assert unused == [], "\n".join(unused)


# -- no parameter that only one value reaches --------------------------

#: where a call counts: every user of the package, tests included
CALLERS = USERS + ("tests",)
#: ``sys.meta_path`` protocol: Python's import system passes these
PROTOCOL = {("ZipImporterShedder", "find_spec")}


def _functions(tree):
    """(class or None, function) per module-level function and per
    method of a module-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield None, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield node, sub


def _defaulted(cls, fn):
    """(name, default, positional index as a caller counts it, or None
    for keyword-only) per parameter of ``fn`` that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    bound = cls is not None and not static      # self / cls
    first = len(pos) - len(a.defaults)
    for i, (p, d) in enumerate(zip(pos[first:], a.defaults)):
        yield p.arg, d, first + i - bound
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield p.arg, d, None


def _sets_other_value(call, name, default, index) -> bool:
    """Whether ``call`` may give parameter ``name`` a value other than
    ``default``: a ``**`` mapping sets every parameter, a ``*`` sequence
    every position from its own on, and any argument whose expression
    differs from the default's is another value."""
    dump = ast.dump(default)
    for k in call.keywords:
        if k.arg is None or (k.arg == name and ast.dump(k.value) != dump):
            return True
    if index is None:
        return False
    for j, arg in enumerate(call.args[:index + 1]):
        if isinstance(arg, ast.Starred) or (
                j == index and ast.dump(arg) != dump):
            return True
    return False


def test_every_defaulted_parameter_takes_a_second_value():
    """A parameter with a default is a setting, and each setting
    multiplies the configurations the tests must cover. So every
    defaulted parameter of a package function or method has a caller,
    in the package, the scripts, the benchmark or the tests, that
    passes it something other than its default; a parameter only one
    value reaches is that value, written as a constant.

    Calls are matched by function name, like the census this guard
    replaces: ``f(...)`` and ``x.f(...)`` both count for every ``f``.
    Dunder methods and the ``sys.meta_path`` protocol are exempt."""
    calls = {}
    defaulted = []
    pkg_prefix = os.path.join(ROOT, PACKAGE, "")
    for path in _trees(CALLERS):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", getattr(func, "attr", None))
                calls.setdefault(name, []).append(node)
        if not path.startswith(pkg_prefix):
            continue
        for cls, fn in _functions(tree):
            owner = cls.name if cls else None
            if (fn.name.startswith("__") and fn.name.endswith("__")
                    or (owner, fn.name) in PROTOCOL):
                continue
            where = f"{os.path.relpath(path, ROOT)}::" + (
                f"{owner}.{fn.name}" if owner else fn.name)
            defaulted += [(where, fn.name, *p) for p in _defaulted(cls, fn)]
    assert len(defaulted) > 100
    single = [f"{where}({name})"
              for where, fn, name, default, index in defaulted
              if not any(_sets_other_value(c, name, default, index)
                         for c in calls.get(fn, ()))]
    assert single == [], "\n".join(single)
