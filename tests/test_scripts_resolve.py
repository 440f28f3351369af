"""Every engine name a script under scripts/ uses must exist: each
`from logagent_spark... import name` resolves, and each attribute read
from an imported engine module resolves. Resolution is static (the
modules' ASTs, no import and no Spark), so a script that still calls a
deleted operator fails here instead of when someone next runs it."""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "logagent_spark"
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds at top level, looking into if/try/with
    blocks but not into functions or classes."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign,
                               ast.For)):
            targets = getattr(node, "targets", None) or [node.target]
            names.update(n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name))
        for field in ("body", "orelse", "finalbody", "handlers"):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                names |= _bound_names(getattr(node, field, []) or [])
    return names


@cache
def _exports(dotted: str) -> frozenset[str] | None:
    """Top-level names of engine module `dotted` plus its submodules;
    None when no such module exists."""
    f = _module_file(dotted)
    if f is None:
        return None
    names = _bound_names(ast.parse(f.read_text()).body)
    if f.name == "__init__.py":
        names |= {p.stem for p in f.parent.glob("*.py")}
        names |= {p.name for p in f.parent.iterdir()
                  if (p / "__init__.py").is_file()}
    return frozenset(names)


def _resolve(dotted: str, name: str) -> str | None:
    """The module `dotted.name` names, '' for another resolved name, or
    None when `dotted` has no `name`."""
    exports = _exports(dotted)
    if exports is None or name not in exports:
        return None
    return f"{dotted}.{name}" if _module_file(f"{dotted}.{name}") else ""


def _unresolved(script: Path) -> list[str]:
    tree = ast.parse(script.read_text())
    modules: dict[str, str] = {}  # local name -> engine module it binds
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if _module_file(a.name) is None:
                    missing.append(f"import {a.name}")
                elif a.asname:
                    modules[a.asname] = a.name
                else:
                    modules[PKG] = PKG
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and (
                (node.module or "").split(".")[0] == PKG):
            if _module_file(node.module) is None:
                missing.append(f"from {node.module}")
                continue
            for a in node.names:
                got = _resolve(node.module, a.name)
                if got is None:
                    missing.append(f"from {node.module} import {a.name}")
                elif got:
                    modules[a.asname or a.name] = got
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        chain, base = [node.attr], node.value
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in modules:
            continue
        dotted = modules[base.id]
        for attr in reversed(chain):
            got = _resolve(dotted, attr)
            if got is None:
                missing.append(f"{dotted}.{attr} (line {node.lineno})")
            if not got:
                break
            dotted = got
    return sorted(set(missing))


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_names_resolve(script):
    assert _unresolved(script) == []


def test_resolver_flags_missing_names(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import logagent_spark.queries as q\n"
        "from logagent_spark.streaming import ratelimit as rl\n"
        "from logagent_spark.operators.dedup import no_such_fn\n"
        "q.q_rate_limit_admit\n"
        "rl.rate_limited_batch(rl.no_such_attr)\n"
    )
    assert _unresolved(bad) == [
        "from logagent_spark.operators.dedup import no_such_fn",
        "logagent_spark.streaming.ratelimit.no_such_attr (line 5)",
    ]
