"""Measurement helpers for the benchmark: spans, executed-plan SQL
metrics and process-tree memory.

Nothing here changes what the engine does. Spans wrap calls the
benchmark makes into the engine's public functions; plan metrics are
read from a DataFrame's own executed plan after an action on that same
DataFrame (the way `logagent_spark.plans.metrics` does); memory is read
from /proc.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end and parent span id. Written out
    once, when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


# ---------------------------------------------------------------------------
# executed-plan SQL metrics

def _walk(node, out: list) -> None:
    name = node.getClass().getSimpleName()
    out.append((name, node))
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), out)
    ch = node.children()
    for i in range(ch.length()):
        _walk(ch.apply(i), out)


def plan_nodes(jqe) -> list:
    """(class name, node) for every node of a QueryExecution's executed
    plan, looking through AQE query stages."""
    p = jqe.executedPlan()
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        p = p.executedPlan()
    out: list = []
    _walk(p, out)
    return out


def node_metric(nodes: list, key: str, classes: tuple[str, ...] = ()) -> int:
    """Sum of one SQL metric over the plan's nodes (optionally only nodes
    whose class name starts with one of `classes`). Reused exchanges
    share their source's metrics and are skipped."""
    total = 0
    for name, n in nodes:
        if name == "ReusedExchangeExec":
            continue
        if classes and not name.startswith(classes):
            continue
        m = n.metrics()
        if m.contains(key):
            total += m.apply(key).value()
    return int(total)


def max_partition_frac(nodes: list) -> float:
    """Largest reduce partition's share of the bytes of the first shuffle
    stage AQE materialized (its map-output statistics) — 1/n when the
    shuffle is balanced over n partitions."""
    for name, n in nodes:
        if name != "ShuffleQueryStageExec":
            continue
        stats = n.mapStats()
        if stats.isEmpty():
            continue
        sizes = list(stats.get().bytesByPartitionId())
        total = sum(sizes)
        if total > 0:
            return max(sizes) / total
    return 0.0


def materialize(df) -> int:
    """Run df's OWN executed plan to the last row and return the row
    count — every column of every row is produced, like a noop sink, but
    the metrics stay readable on `df._jdf.queryExecution()` (a noop or
    parquet write plans a separate command, whose metrics the DataFrame
    never sees)."""
    return int(df._jdf.queryExecution().toRdd().count())


# ---------------------------------------------------------------------------
# process-tree memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of `root` and all its descendants, as
    proportional set size: a page shared by k processes counts 1/k in
    each. Summed plain RSS would count the JVM twice whenever Hadoop's
    local file system forks it to run `chmod`, and the forked Python
    workers' shared pages once per worker."""
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process has exited
            continue
    return total


class RssSampler:
    """Background sampler of the benchmark's process tree (this Python
    driver, the Spark JVM it launched and the JVM's Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
