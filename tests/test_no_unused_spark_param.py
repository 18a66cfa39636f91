"""No library function takes a ``spark`` argument it never reads.

A ``spark`` parameter tells the caller that the function runs Spark
work.  When the body never touches it, every caller must still build
or thread a session for nothing, and the signature misstates what the
function does (a pure log or filesystem operation).  The check walks
the AST with no import and no SparkSession.  A read inside a nested
function or lambda counts for the enclosing function, unless that
nested function declares its own ``spark`` parameter.  The vendored
protobuf runtime is third-party code and is not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dbt_json_readr_spark"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)
_FUNCS = (*_DEFS, ast.Lambda)


def _params(fn: ast.AST) -> set[str]:
    a = fn.args
    return {
        p.arg
        for p in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
        if p is not None
    }


def _reads_spark(fn: ast.AST) -> bool:
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name) and n.id == "spark" and isinstance(n.ctx, ast.Load):
            return True
        if isinstance(n, _FUNCS) and "spark" in _params(n):
            continue  # a nested parameter shadows the outer one
        stack.extend(ast.iter_child_nodes(n))
    return False


def test_every_spark_parameter_is_read():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if "_vendor" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, _DEFS) and "spark" in _params(fn) and not _reads_spark(fn):
                unused.append(f"{path.relative_to(PKG.parent)}:{fn.lineno} {fn.name}")
    assert not unused, "spark parameter never read:\n" + "\n".join(unused)
