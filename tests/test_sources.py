"""Every Python source of the repository compiles with warnings as errors.

An invalid escape such as ``"\\."`` in a non-raw string is only a
``DeprecationWarning`` (``SyntaxWarning`` from 3.12) today, and a later
Python turns it into a ``SyntaxError`` at import. Compiling each file
under ``warnings.simplefilter("error")`` fails on it now instead.
"""

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
