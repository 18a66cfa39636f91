"""Every top-level function and class of the library is reachable from
something that runs.

A helper that only a test calls is not part of the engine: it drifts
from the code that does run and misleads readers about the design.  The
check walks the AST, with no import and no SparkSession:

* **Roots** are what runs on its own: the module-level statements of
  every library module (``register(...)`` calls, ``ORACLES[...]``
  entries, ``api.__all__``, constants built at import), and every
  statement of the entry points: ``__spark_entry__.py``, ``bench.py``,
  ``perfbench/*.py`` and ``tools_*.py``.  Module-level imports of a
  library module are not roots; a name they bind is live only where it
  is used.
* **References** are ``Name`` ids, ``Attribute`` attrs, import aliases
  and string constants that are exactly one identifier (the registry
  resolves keys with ``getattr``, perfbench names its traced functions
  as strings).  Docstrings and comments do not count.
* A top-level library definition passes if a root references it, or if
  the body of a definition that passes does; this iterates to a
  fixpoint.  Names are matched without their module, so the walk errs
  towards keeping code.

Tests are not roots.  The vendored protobuf runtime is third-party code
and is not checked.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "dbt_json_readr_spark"

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _library_files() -> list[Path]:
    return sorted(
        p for p in PKG.rglob("*.py") if "_vendor" not in p.parts and "__pycache__" not in p.parts
    )


def _entry_files() -> list[Path]:
    return sorted(
        [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
        + list((ROOT / "perfbench").glob("*.py"))
        + list(ROOT.glob("tools_*.py"))
    )


def _refs(node: ast.AST) -> set[str]:
    """Every name ``node`` references; bare string statements
    (docstrings) are prose, not references."""
    prose = {
        id(n.value)
        for n in ast.walk(node)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in prose
            and _IDENT.fullmatch(n.value)
        ):
            out.add(n.value)
    return out


def unreachable_definitions() -> list[str]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    live: set[str] = set()
    for path in _library_files():
        where = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((where, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                live |= _refs(node)
    for path in _entry_files():
        live |= _refs(ast.parse(path.read_text()))

    reached: set[str] = set()
    frontier = live & defs.keys()
    while frontier:
        reached |= frontier
        new: set[str] = set()
        for name in frontier:
            for _, node in defs[name]:
                new |= _refs(node)
        frontier = (new & defs.keys()) - reached
    return sorted(
        f"{where}::{name}"
        for name, sites in defs.items()
        if name not in reached
        for where, _ in sites
    )


def test_every_top_level_definition_is_referenced():
    dead = unreachable_definitions()
    assert not dead, f"unreachable from any entry point or registry key: {dead}"
