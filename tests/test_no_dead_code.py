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
* **References** resolve to a definition in one module:
  - a ``Name`` to the definition of that name in its own module, or to
    the one an import in the same file binds it to;
  - an attribute ``mod.name`` to ``name`` in the module ``mod`` binds,
    and nothing else, so ``spark.sql`` keeps no library ``sql`` alive;
  - a string constant that is exactly one identifier (the registry
    resolves keys with ``getattr``, perfbench names its traced
    functions as strings) to that name in every module.
  Imports that re-export a name are followed to its definition.
  Docstrings and comments do not count.
* A top-level library definition passes if a root references it, or if
  the body of a definition that passes does; this iterates to a
  fixpoint.

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
_ANY = "*"  # the module of a string reference: every module


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


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


_MODULES = {_module_name(p) for p in _library_files()}


class _File:
    """One source file: its module name and what each import binds."""

    def __init__(self, path: Path) -> None:
        self.module = _module_name(path)
        self.where = str(path.relative_to(ROOT))
        self.is_package = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text())
        # local name -> {(module, None)} for a module, {(module, name)}
        # for a name imported from one; imports anywhere in the file
        self.binds: dict[str, set[tuple[str, str | None]]] = {}
        for n in ast.walk(self.tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        self._bind(a.asname, (a.name, None))
                    else:
                        top = a.name.split(".")[0]
                        self._bind(top, (top, None))
            elif isinstance(n, ast.ImportFrom):
                base = self._absolute(n.module, n.level)
                for a in n.names:
                    sub = f"{base}.{a.name}"
                    target = (sub, None) if sub in _MODULES else (base, a.name)
                    self._bind(a.asname or a.name, target)

    def _bind(self, local: str, target: tuple[str, str | None]) -> None:
        self.binds.setdefault(local, set()).add(target)

    def _absolute(self, module: str | None, level: int) -> str:
        if not level:
            return module or ""
        pkg = self.module.split(".")
        if not self.is_package:
            pkg = pkg[:-1]
        pkg = pkg[: len(pkg) - (level - 1)]
        return ".".join(pkg + ([module] if module else []))

    def _modules(self, local: str) -> set[str]:
        return {m for m, name in self.binds.get(local, ()) if name is None}

    def refs(self, node: ast.AST, own: set[str]) -> set[tuple[str, str]]:
        """Every (module, name) ``node`` references; ``own`` are the
        names this file defines at top level.  Bare string statements
        (docstrings) are prose, not references."""
        prose = {
            id(n.value)
            for n in ast.walk(node)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        out: set[tuple[str, str]] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in own:
                    out.add((self.module, n.id))
                out |= {(m, name) for m, name in self.binds.get(n.id, ()) if name}
            elif isinstance(n, ast.Attribute):
                out |= self._attribute_refs(n)
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in prose
                and _IDENT.fullmatch(n.value)
            ):
                out.add((_ANY, n.value))
        return out

    def _attribute_refs(self, n: ast.Attribute) -> set[tuple[str, str]]:
        attrs: list[str] = []
        base: ast.AST = n
        while isinstance(base, ast.Attribute):
            attrs.insert(0, base.attr)
            base = base.value
        if not isinstance(base, ast.Name):
            return set()
        out: set[tuple[str, str]] = set()
        for mod in self._modules(base.id):
            for attr in attrs:
                if f"{mod}.{attr}" not in _MODULES:
                    out.add((mod, attr))
                    break
                mod = f"{mod}.{attr}"
        return out


def unreachable_definitions() -> list[str]:
    lib = [_File(p) for p in _library_files()]
    files = {f.module: f for f in lib}
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, set[tuple[str, str]]] = {}
    own: dict[str, set[str]] = {}
    for f in lib:
        own[f.module] = {n.name for n in f.tree.body if isinstance(n, _DEFS)}
        for node in f.tree.body:
            if isinstance(node, _DEFS):
                defs[(f.module, node.name)] = node
                by_name.setdefault(node.name, set()).add((f.module, node.name))

    def resolve(ref: tuple[str, str], seen=()) -> set[tuple[str, str]]:
        """The definitions a reference lands on, through re-exports."""
        mod, name = ref
        if mod == _ANY:
            return by_name.get(name, set())
        if ref in defs:
            return {ref}
        f = files.get(mod)
        if f is None or ref in seen:
            return set()
        out: set[tuple[str, str]] = set()
        for m, n in f.binds.get(name, ()):
            if n is not None:
                out |= resolve((m, n), seen + (ref,))
        return out

    live: set[tuple[str, str]] = set()
    for f in lib:
        for node in f.tree.body:
            if not isinstance(node, _DEFS + (ast.Import, ast.ImportFrom)):
                live |= f.refs(node, own[f.module])
    for path in _entry_files():
        entry = _File(path)
        live |= entry.refs(entry.tree, set())
        # an entry point's own imports are statements that run
        live |= {(m, n) for targets in entry.binds.values() for m, n in targets if n}

    reached: set[tuple[str, str]] = set()
    frontier = {d for ref in live for d in resolve(ref)}
    while frontier:
        reached |= frontier
        new: set[tuple[str, str]] = set()
        for key in frontier:
            for ref in files[key[0]].refs(defs[key], own[key[0]]):
                new |= resolve(ref)
        frontier = new - reached
    return sorted(
        f"{files[mod].where}::{name}"
        for mod, name in defs
        if (mod, name) not in reached
    )


def test_every_top_level_definition_is_referenced():
    dead = unreachable_definitions()
    assert not dead, f"unreachable from any entry point or registry key: {dead}"
