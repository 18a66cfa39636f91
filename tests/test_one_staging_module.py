"""Files land in a lake table only through ``sources/staging.py``.

How a writer stages a Spark write, names the files it lands and
commits put-if-absent is one decision.  Copies of it drift: an
Iceberg delete file written without the staging module's timestamp
setting stored INT96 where the table's data files held INT64 micros.
The check walks the AST with no import and no SparkSession, and fails
if any other library module hard-links a file (``os.link``), sets
``spark.sql.parquet.outputTimestampType``, or builds a ``_staging``
path.  Docstrings and comments may name them; code may not.  The
vendored protobuf runtime is third-party code and is not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dbt_json_readr_spark"
OWNER = PKG / "sources" / "staging.py"

_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, _DOC_OWNERS) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _violations(tree: ast.AST) -> list[tuple[int, str]]:
    docs = _docstrings(tree)
    out = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Attribute)
            and n.attr == "link"
            and isinstance(n.value, ast.Name)
            and n.value.id == "os"
        ):
            out.append((n.lineno, "os.link"))
        elif isinstance(n, ast.ImportFrom) and n.module == "os":
            if any(a.name == "link" for a in n.names):
                out.append((n.lineno, "from os import link"))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
        ):
            if "outputTimestampType" in n.value:
                out.append((n.lineno, "sets outputTimestampType"))
            if "_staging" in n.value:
                out.append((n.lineno, "builds a _staging path"))
    return out


def test_pin_flags_each_concern():
    src = '''
"""Docstrings may mention os.link and _staging-* dirs."""
import os
from os import link
os.link("a", "b")
spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
stage = root / f"_staging-{os.getpid()}"
'''
    found = sorted(kind for _ln, kind in _violations(ast.parse(src)))
    assert found == [
        "builds a _staging path",
        "from os import link",
        "os.link",
        "sets outputTimestampType",
    ]


def test_only_the_staging_module_lands_files():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if "_vendor" in path.parts or path == OWNER:
            continue
        for ln, kind in _violations(ast.parse(path.read_text())):
            found.append(f"{path.relative_to(PKG.parent)}:{ln} {kind}")
    assert not found, "file landing outside sources/staging.py:\n" + "\n".join(found)
