"""Engine surface guard: every top-level definition in `cuttlefish_spark/`
must have a caller outside the tests.

A definition counts as used when some Python file of the repo outside a
`tests/` directory names it — a loaded name, an attribute, an import,
or an identifier string (perfbench patches functions by name) —
anywhere but inside the definition itself. Registered `@query`
functions are used through the registry. Code that only tests reach
belongs in the tests, or nowhere.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE = ROOT / "cuttlefish_spark"

# plans/checks.py is the plan-assertion toolkit: tests, scale.py and
# scripts/plan_audit.py import it. dedup_stream is the stateful
# operator of the checkpoint kill/restart recovery test.
ALLOWED_FILES = {"plans/checks.py"}
ALLOWED_NAMES = {"dedup_stream", "DEDUP_OUT_SCHEMA"}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _non_test_sources() -> list[Path]:
    return [
        p for p in ROOT.rglob("*.py")
        if "tests" not in p.relative_to(ROOT).parts
        and not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def _refs(node: ast.AST) -> set[str]:
    """Names `node` refers to (its own defining names excluded)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.fullmatch(n.value)):
            out.update(n.value.split("."))
    return out


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", [])
    )


def _defined(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else [])
    return [t.id for t in targets if isinstance(t, ast.Name)]


def test_every_engine_definition_has_a_non_test_caller():
    # One reference set per top-level statement, so a definition's own
    # body never counts as its caller.
    statements = []
    for path in _non_test_sources():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        statements.extend((path, node, _refs(node)) for node in tree.body)

    unused = []
    for path, node, _ in statements:
        rel = path.relative_to(ENGINE).as_posix() if ENGINE in path.parents else None
        if rel is None or rel in ALLOWED_FILES or _is_query(node):
            continue
        for name in _defined(node):
            if name.startswith("__") or name in ALLOWED_NAMES:
                continue
            if not any(name in refs for _, other, refs in statements if other is not node):
                unused.append(f"{rel}:{node.lineno} {name}")
    assert unused == [], "defined but reached only from tests:\n" + "\n".join(unused)
