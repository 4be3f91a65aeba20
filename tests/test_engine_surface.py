"""Engine surface guard: every top-level definition in `cuttlefish_spark/`
must have a caller outside the tests, and so must every defaulted
parameter of an engine function.

A definition counts as used when some Python file of the repo outside a
`tests/` directory names it — a loaded name, an attribute, an import,
or an identifier string (perfbench patches functions by name) —
anywhere but inside the definition itself. A package `__init__.py`'s
imports and `__all__` only re-export names, so they call nothing.
Registered `@query` functions are used through the registry. Code that
only tests reach belongs in the tests, or nowhere.

A defaulted parameter counts as used when a call outside the tests to a
function of that name passes it, by keyword or by position (a `*args`
or `**kwargs` call passes everything). A value no caller chooses is a
constant, not a parameter.
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

# Defaulted parameters only tests pass, each with the test that passes
# a different value (a test seam) or the reason it stays.
ALLOWED_PARAMS = {
    "run.py:run_pipeline(transport=)":
        "the live path, which no caller can choose yet (ROADMAP item 3)",
    "sources/config.py:load_config(cwd=)": "test_runtime_config_defaults_and_override",
    "sources/throttle.py:Throttle(clock=)": "test_token_bucket_header_backoff",
    "sources/throttle.py:Throttle(sleep=)": "test_token_bucket_header_backoff",
    "sources/fetch.py:FixtureTransport(ratelimit_remaining=)":
        "test_fetch_events_ok_and_throttle_update",
    "sources/fetch.py:FixtureTransport(ratelimit_reset=)":
        "test_fetch_events_ok_and_throttle_update",
}

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


def _reexport(path: Path, node: ast.stmt) -> bool:
    return path.name == "__init__.py" and (
        isinstance(node, (ast.Import, ast.ImportFrom)) or "__all__" in _defined(node))


def test_every_engine_definition_has_a_non_test_caller():
    # One reference set per top-level statement, so a definition's own
    # body never counts as its caller.
    statements = []
    for path in _non_test_sources():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        statements.extend((path, node, set() if _reexport(path, node) else _refs(node))
                          for node in tree.body)

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


def _functions(tree: ast.Module):
    """(function node, the name callers use, leading parameters a call
    does not spell) for each top-level function and class method; a
    class is called by its own name for `__init__`."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node, node.name, 0
        elif isinstance(node, ast.ClassDef):
            for fn in node.body:
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(getattr(d, "id", None) == "staticmethod"
                                 for d in fn.decorator_list)
                    name = node.name if fn.name == "__init__" else fn.name
                    yield fn, name, 0 if static else 1


def _defaulted(fn: ast.FunctionDef, skip: int) -> list[tuple[str, int | None]]:
    """(name, position a call passes it at, or None if keyword-only) of
    each parameter with a default."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    out = [(a.arg, i - skip) for i, a in enumerate(positional) if i >= first]
    out += [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None]
    return out


def _passes(call: ast.Call, param: str, position: int | None) -> bool:
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return position is not None and len(call.args) > position


def test_every_defaulted_engine_parameter_has_a_non_test_caller():
    calls = []
    for path in _non_test_sources():
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(n, ast.Call):
                f = n.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls.append((name, n))

    unpassed = set()
    for path in ENGINE.rglob("*.py"):
        rel = path.relative_to(ENGINE).as_posix()
        for fn, name, skip in _functions(ast.parse(path.read_text(encoding="utf-8"))):
            own = {id(n) for n in ast.walk(fn)}
            for param, position in _defaulted(fn, skip):
                if not any(called == name and id(c) not in own and _passes(c, param, position)
                           for called, c in calls):
                    unpassed.add(f"{rel}:{name}({param}=)")
    extra = sorted(unpassed - ALLOWED_PARAMS.keys())
    assert extra == [], "defaulted parameters no non-test caller passes:\n" + "\n".join(extra)
    stale = sorted(ALLOWED_PARAMS.keys() - unpassed)
    assert stale == [], "ALLOWED_PARAMS entries a non-test caller now passes: " + ", ".join(stale)
