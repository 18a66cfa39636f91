"""Every top-level function and class of the library is used somewhere.

A helper that nothing references is code that cannot run: it drifts
from the code that does and misleads readers about the design.  The
check is a whole-word match over every ``.py`` file of the repository
(library, tests, tools, bench), so a name used only by a test or a
tool still counts.  The vendored protobuf runtime is third-party-shaped
code and is not checked.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "dbt_json_readr_spark"


def test_every_top_level_definition_is_referenced():
    texts = {
        p: p.read_text()
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") or part == "__pycache__"
            for part in p.relative_to(ROOT).parts
        )
    }
    words = Counter(w for t in texts.values() for w in re.findall(r"\w+", t))
    unreferenced = []
    for path, text in texts.items():
        if not path.is_relative_to(PKG) or "_vendor" in path.parts:
            continue
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # one occurrence is the definition itself
                if words[node.name] < 2:
                    unreferenced.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unreferenced, f"defined but never referenced: {sorted(unreferenced)}"
