"""The frozen harness (bench.py, __spark_entry__.py, perfbench/) must
keep calling the product API it was written against. Each call it makes
to a guarded entry point is bound against the live signature, so a
narrowing (a removed parameter or option) fails here instead of at
bench time."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

from logagent_spark.operators import dedup, similarity, textstats
from logagent_spark.plans.checkpoint import CheckpointedRunner
from logagent_spark.plans.pipeline import CompiledPipeline

ROOT = Path(__file__).resolve().parent.parent
HARNESS = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
           *sorted((ROOT / "perfbench").glob("*.py"))]

# name -> (callable, whether calls pass `self` implicitly)
GUARDED = {
    "embedding_candidate_pairs": (dedup.embedding_candidate_pairs, False),
    "kmeans_refine": (similarity.kmeans_refine, False),
    "knn_join_ivf": (similarity.knn_join_ivf, False),
    "write_sinks": (CompiledPipeline.write_sinks, True),
    "routed": (CompiledPipeline.routed, True),
    "multiplexed": (CompiledPipeline.multiplexed, True),
    "dead_letter": (CompiledPipeline.dead_letter, True),
    "sink_counts": (CompiledPipeline.sink_counts, False),
    "drop_counts": (CompiledPipeline.drop_counts, False),
    "totals": (CheckpointedRunner.totals, True),
    "CompiledPipeline": (CompiledPipeline, False),
    "CheckpointedRunner": (CheckpointedRunner, False),
    "duplicated_window_stats": (textstats.duplicated_window_stats, False),
    "excise_duplicated_windows": (textstats.excise_duplicated_windows, False),
}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def test_harness_calls_bind_to_product_signatures():
    seen, failures = set(), []
    for path in HARNESS:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name = _called_name(node)
            if name not in GUARDED:
                continue
            fn, bound_self = GUARDED[name]
            seen.add(name)
            args = [] if any(isinstance(a, ast.Starred) for a in node.args) \
                else [None] * (len(node.args) + bound_self)
            kwargs = {k.arg: None for k in node.keywords if k.arg is not None}
            try:
                inspect.signature(fn).bind_partial(*args, **kwargs)
            except TypeError as e:
                failures.append(
                    f"{path.name}:{node.lineno} {name}(...): {e}")
    assert not failures, "\n".join(failures)
    # the walk really reaches the harness's calls
    assert {"embedding_candidate_pairs", "kmeans_refine", "knn_join_ivf",
            "CompiledPipeline", "CheckpointedRunner",
            "duplicated_window_stats", "excise_duplicated_windows",
            "routed", "multiplexed", "dead_letter", "sink_counts",
            "drop_counts", "totals"} <= seen
