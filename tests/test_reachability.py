"""No product name is reachable only from tests.

Every top-level name a `logagent_spark` module defines must be used by
production code: the package itself, `bench.py`, `__spark_entry__.py`,
`perfbench/` or `scripts/`. A name's own definition (recursion, its own
assignment), `__all__` and package `__init__` re-exports are not uses.
Resolution is static (the modules' ASTs, no import and no Spark), with
the same helpers as test_scripts_resolve. A name that production code
does not reach is deleted, or, when it is a reference twin or fixture
that tests need, listed in ALLOWED with the reason it stays."""

from __future__ import annotations

import ast
from pathlib import Path

from test_scripts_resolve import (
    PKG,
    REPO,
    _bindings,
    _bound_names,
    _defined,
    _target,
)

ALLOWED = {
    "logagent_spark.operators.dedup.token_hash_u64":
        "the oracle primitive: the numpy twin of the engine's token hash",
    "logagent_spark.datagen.WAF_REGEX":
        "the pattern of the generator's own WAF lines",
    "logagent_spark.datagen.EMBEDDED_WAF_REGEX":
        "the pattern of the generator's WAF lines embedded in page text",
    "logagent_spark.queries.SQL_TPCH_REGION_REVENUE":
        "the DuckDB oracle of tpch_region_revenue, which bench.py calls",
    "logagent_spark.operators.similarity.brute_force_topk":
        "the exact single-query top-k the IVF and k-NN tests compare to",
    "logagent_spark.plans.skew.salted_repartition":
        "the salted strategy BASELINE.md names for hot keys",
    "logagent_spark.streaming.pipeline.start_streaming_pipeline":
        "the incremental form of CompiledPipeline, pinned by test_streaming",
    "logagent_spark.streaming.pipeline.streaming_sink_counts":
        "the incremental form of CompiledPipeline, pinned by test_streaming",
}

PRODUCTION = [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "scripts").glob("*.py")),
    *sorted((REPO / PKG).rglob("*.py")),
]
TESTS = sorted((REPO / "tests").glob("*.py"))


def _dotted(f: Path) -> str | None:
    """Engine module name of file `f`, None outside the package."""
    rel = f.relative_to(REPO).with_suffix("")
    if rel.parts[0] != PKG:
        return None
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _uses(f: Path) -> set[tuple[str, str]]:
    """(module, name) pairs of engine definitions file `f` uses."""
    tree = ast.parse(f.read_text())
    here = _dotted(f)
    mods, names = _bindings(tree)
    own = _defined(here) if here else frozenset()
    used: set[tuple[str, str]] = set()
    for stmt in tree.body:
        if any(isinstance(t, ast.Name) and t.id == "__all__"
               for t in getattr(stmt, "targets", [])):
            continue
        # a name's own definition (recursion, its assignment) is no use
        skip = {(here, n) for n in _bound_names([stmt])}
        for node in ast.walk(stmt):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "getattr" and len(node.args) >= 2
                    and isinstance(node.args[1], ast.Constant)
                    and isinstance(node.args[1].value, str)):
                # getattr(module, "name") reads module.name
                node = ast.Attribute(node.args[0], node.args[1].value)
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                continue
            got = None
            if isinstance(node, ast.Name) and node.id in own:
                got = (here, node.id)
            elif isinstance(node, (ast.Name, ast.Attribute)):
                got = _target(node, mods, names)
            if got and got not in skip:
                used.add(got)
    return used


def _product_names() -> set[str]:
    out = set()
    for f in sorted((REPO / PKG).rglob("*.py")):
        mod = _dotted(f)
        out |= {f"{mod}.{n}" for n in _defined(mod)}
    return out


def _unreached(production: list[Path]) -> dict[str, str]:
    """Product names no production file uses -> who does ('tests' or
    'nothing'), minus ALLOWED."""
    prod = {f"{m}.{n}" for f in production for m, n in _uses(f)}
    tests = {f"{m}.{n}" for f in TESTS for m, n in _uses(f)}
    return {name: ("tests" if name in tests else "nothing")
            for name in sorted(_product_names() - prod - set(ALLOWED))}


def test_every_product_name_has_a_production_use():
    assert _unreached(PRODUCTION) == {}


def test_allow_list_names_live_test_only_names():
    """An ALLOWED entry must still exist and still lack a production
    use, so the list cannot outlive what it excuses."""
    prod = {f"{m}.{n}" for f in PRODUCTION for m, n in _uses(f)}
    names = _product_names()
    assert [a for a in ALLOWED if a not in names or a in prod] == []


def test_flags_a_name_only_tests_reach():
    """Without the CLI and the script that wraps it, the CLI's `main`
    is a name only tests reach."""
    cli = {REPO / PKG / "__main__.py", REPO / "scripts" / "run_job.py"}
    got = _unreached([f for f in PRODUCTION if f not in cli])
    assert got == {"logagent_spark.__main__.main": "tests"}
