"""Files land in a lake table only through ``sources/staging.py``.

How a writer stages a Spark write, names the files it lands and
commits put-if-absent is one decision.  Copies of it drift: an
Iceberg delete file written without the staging module's timestamp
setting stored INT96 where the table's data files held INT64 micros.
The check walks the AST with no import and no SparkSession, and fails
if any other library module hard-links a file (``os.link``), renames
one over another (``os.replace``), sets
``spark.sql.parquet.outputTimestampType``, or builds a ``_staging``
path.  Docstrings and comments may name them; code may not.  The
vendored protobuf runtime is third-party code and is not checked.
"""

from __future__ import annotations

import ast
import json
import threading
from pathlib import Path

import pytest

from dbt_json_readr_spark.sources import staging

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


# a hard link is the put-if-absent commit, a replace the atomic publish
_OS_CALLS = ("link", "replace")


def _violations(tree: ast.AST) -> list[tuple[int, str]]:
    docs = _docstrings(tree)
    out = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Attribute)
            and n.attr in _OS_CALLS
            and isinstance(n.value, ast.Name)
            and n.value.id == "os"
        ):
            out.append((n.lineno, f"os.{n.attr}"))
        elif isinstance(n, ast.ImportFrom) and n.module == "os":
            for a in n.names:
                if a.name in _OS_CALLS:
                    out.append((n.lineno, f"from os import {a.name}"))
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
from os import link, replace
os.link("a", "b")
os.replace("a.tmp", "a")
spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
stage = root / f"_staging-{os.getpid()}"
'''
    found = sorted(kind for _ln, kind in _violations(ast.parse(src)))
    assert found == [
        "builds a _staging path",
        "from os import link",
        "from os import replace",
        "os.link",
        "os.replace",
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


def test_two_threads_publish_one_file(tmp_path):
    """Two threads of one process publishing the same ``_last_checkpoint``
    each write their own temporary file, so both publishes succeed, the
    file holds one whole version, and no temporary file is left."""
    dest = tmp_path / "_last_checkpoint"
    both_writing = threading.Barrier(2)
    errors = []

    def publish(version):
        def write(tmp):
            Path(tmp).write_text(json.dumps({"version": version}))
            both_writing.wait(timeout=30)

        try:
            staging.publish_file(dest, write)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=publish, args=(v,)) for v in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert json.loads(dest.read_text())["version"] in (1, 2)
    assert list(tmp_path.iterdir()) == [dest]


def test_failed_publish_leaves_the_old_file_and_no_temporary(tmp_path):
    dest = tmp_path / "_last_checkpoint"
    dest.write_text("old")

    def write(tmp):
        Path(tmp).write_text("half")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        staging.publish_file(dest, write)
    assert dest.read_text() == "old"
    assert list(tmp_path.iterdir()) == [dest]
