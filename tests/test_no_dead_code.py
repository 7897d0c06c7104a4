"""Dead-code guard: every top-level function and class in
`examples_scala_spark/` must be named somewhere in the repo's Python
besides its own definition. Registry queries are reached through
`@register`, so they are exempt."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "examples_scala_spark"


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(f, ast.Name) and f.id == "register"


def _unreferenced() -> list[str]:
    defs: list[tuple[str, str]] = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not any(map(_is_register, node.decorator_list))):
                defs.append((str(path.relative_to(ROOT)), node.name))
    words = Counter()
    for path in ROOT.rglob("*.py"):
        if ".git" not in path.parts:
            words.update(re.findall(r"[A-Za-z_]\w*", path.read_text()))
    n_defs = Counter(name for _, name in defs)
    return [f"{mod}:{name}" for mod, name in defs
            if words[name] <= n_defs[name]]


def test_no_unreferenced_top_level_definitions():
    assert _unreferenced() == []
