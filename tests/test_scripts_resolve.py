"""Every engine name a script under scripts/ uses must exist: each
`from logagent_spark... import name` resolves, each attribute read
from an imported engine module resolves, and each keyword argument a
script passes to an engine function is a parameter of that function
(unless it takes **kwargs). Resolution is static (the modules' ASTs, no
import and no Spark), so a script that still calls a deleted operator,
or passes a deleted knob, fails here instead of when someone next runs
it."""

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


def _is_engine(dotted: str | None) -> bool:
    return bool(dotted) and dotted.split(".")[0] == PKG


def _engine_source(node: ast.ImportFrom) -> str | None:
    """The engine module an ImportFrom reads from (the tree imports
    absolutely), or None."""
    return node.module if node.level == 0 and _is_engine(node.module) \
        else None


class _NoImports(ast.NodeTransformer):
    def visit_Import(self, node):
        return None

    visit_ImportFrom = visit_Import


@cache
def _tree(dotted: str) -> ast.Module:
    return ast.parse(_module_file(dotted).read_text())


@cache
def _defined(dotted: str) -> frozenset[str]:
    """Top-level names module `dotted` binds itself (no imports, no
    dunders)."""
    body = _NoImports().visit(ast.parse(_module_file(dotted).read_text()))
    return frozenset(n for n in _bound_names(body.body)
                     if not (n.startswith("__") and n.endswith("__")))


@cache
def _origin(dotted: str, name: str) -> tuple[str, str] | None:
    """(module, name) that defines `dotted.name`, following re-exports;
    None for a submodule or a name from outside the engine."""
    if _module_file(dotted) is None:
        return None
    if name in _defined(dotted):
        return dotted, name
    for node in _tree(dotted).body:
        if isinstance(node, ast.ImportFrom) and (src := _engine_source(node)):
            for a in node.names:
                if (a.asname or a.name) == name:
                    return _origin(src, a.name)
    return None


def _bindings(tree: ast.Module):
    """Local names an AST binds to engine modules ({name: module}) and
    to engine names ({name: (module, name)}), wherever it imports."""
    mods: dict[str, str] = {}
    names: dict[str, tuple[str, str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name):
                    mods[a.asname or PKG] = a.name if a.asname else PKG
        elif isinstance(node, ast.ImportFrom) and (
                src := _engine_source(node)):
            for a in node.names:
                if _module_file(f"{src}.{a.name}"):
                    mods[a.asname or a.name] = f"{src}.{a.name}"
                else:
                    names[a.asname or a.name] = (src, a.name)
    return mods, names


def _target(expr: ast.expr, mods: dict, names: dict):
    """(module, name) defining the engine name `expr` reads (a bound
    name or an attribute chain off an engine module), or None."""
    if isinstance(expr, ast.Name):
        return _origin(*names[expr.id]) if expr.id in names else None
    chain = []
    while isinstance(expr, ast.Attribute):
        chain.append(expr.attr)
        expr = expr.value
    if not isinstance(expr, ast.Name) or expr.id not in mods:
        return None
    dotted = mods[expr.id]
    for attr in reversed(chain):
        if not _module_file(f"{dotted}.{attr}"):
            return _origin(dotted, attr)
        dotted = f"{dotted}.{attr}"
    return None


def _resolve(dotted: str, name: str) -> str | None:
    """The module `dotted.name` names, '' for another resolved name, or
    None when `dotted` has no `name`."""
    exports = _exports(dotted)
    if exports is None or name not in exports:
        return None
    return f"{dotted}.{name}" if _module_file(f"{dotted}.{name}") else ""


def _unresolved(script: Path) -> list[str]:
    tree = ast.parse(script.read_text())
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            missing += [f"import {a.name}" for a in node.names
                        if _is_engine(a.name) and _module_file(a.name) is None]
        elif isinstance(node, ast.ImportFrom) and _engine_source(node):
            if _module_file(node.module) is None:
                missing.append(f"from {node.module}")
                continue
            missing += [f"from {node.module} import {a.name}"
                        for a in node.names
                        if _resolve(node.module, a.name) is None]
    modules, _ = _bindings(tree)  # local name -> engine module it binds
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


def _parameters(dotted: str, name: str) -> set[str] | None:
    """Keyword names engine function `dotted.name` accepts (a class:
    its __init__); None when it takes **kwargs or is not a function."""
    node = next((n for n in _tree(dotted).body
                 if getattr(n, "name", None) == name), None)
    if isinstance(node, ast.ClassDef):
        node = next((n for n in node.body if isinstance(n, ast.FunctionDef)
                     and n.name == "__init__"), None)
    if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return None
    a = node.args
    if a.kwarg:
        return None
    return {p.arg for p in (*a.args, *a.kwonlyargs)}


def _bad_keywords(script: Path) -> list[str]:
    tree = ast.parse(script.read_text())
    mods, names = _bindings(tree)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        got = _target(node.func, mods, names)
        params = _parameters(*got) if got else None
        if params is None:
            continue
        bad += [f"{got[0]}.{got[1]}({k.arg}=) (line {node.lineno})"
                for k in node.keywords if k.arg and k.arg not in params]
    return sorted(set(bad))


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_names_resolve(script):
    assert _unresolved(script) == []


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_keywords_match_signatures(script):
    assert _bad_keywords(script) == []


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


def test_keyword_check_flags_unknown_knobs(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import logagent_spark.queries as q\n"
        "from logagent_spark.sources import from_pages\n"
        "from logagent_spark.plans.checkpoint import CheckpointedRunner\n"
        "q.q_curation_pipeline(None, 'sf', no_such_knob=False)\n"
        "from_pages(None, nope=1)\n"
        "CheckpointedRunner(None, 'out', n_chunks=2, bogus=3)\n"
        "q.q_checkpoint_resume(None, 'sf', simulate_kill=False)\n"
    )
    assert _bad_keywords(bad) == [
        "logagent_spark.plans.checkpoint.CheckpointedRunner(bogus=) (line 6)",
        "logagent_spark.queries.q_curation_pipeline(no_such_knob=) (line 4)",
        "logagent_spark.sources.readers.from_pages(nope=) (line 5)",
    ]
