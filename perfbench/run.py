"""Benchmark entry point.

    python3 perfbench/run.py --workload cc_route --seed 1 --seconds 20 --trace 0

Runs one workload at local[min(4, cores)] from this single driver
process, one batch job at a time (a closed loop with one client): the
inputs are generated from --seed, set-up is repeated and its median
reported, a warm-up pass runs, then passes repeat for --seconds and the
median pass counts. The outputs are checked against the Python oracle
and DuckDB. The last stdout line is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones
(see perfbench/README.md). Everything the run writes stays under
.perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 3
HEAP = "1g"
T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work dir, and let the Arrow UDF workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    paths = [ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    from logagent_spark.session import get_spark

    # A fixed, pre-touched heap: the JVM's resident size then does not
    # depend on when G1 decides to grow the heap, so peak_rss_mb moves
    # with off-heap and Python-worker memory rather than GC timing.
    return get_spark(
        "perfbench", parallelism=cores, shuffle_partitions=cores,
        extra={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both (the JVM's
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_children(timeout: float = 60.0) -> None:
    from perfbench.measure import _children_map

    deadline = time.monotonic() + timeout
    while _children_map().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def timed_passes(w, spark, seconds: float, traced_every: int = 0):
    """Passes until `seconds` have elapsed. With traced_every=k > 0, every
    k-th pass records spans. Returns (untraced seconds, traced
    (seconds, span self times) pairs, all spans)."""
    from perfbench.measure import Tracer

    plain, traced, spans = [], [], []
    deadline = time.monotonic() + seconds
    i = 0
    while i < (2 if traced_every else 1) or time.monotonic() < deadline:
        tr = Tracer(bool(traced_every) and i % traced_every == 1)
        w.before_pass()
        t0 = time.monotonic()
        w.run_pass(spark, tr)
        dt = time.monotonic() - t0
        if tr.enabled:
            traced.append((dt, tr.self_times()))
            spans.extend(tr.spans)
        else:
            plain.append(dt)
        i += 1
    return plain, traced, spans


def run(args) -> dict:
    from perfbench.measure import RssSampler, median
    from perfbench.workloads import LAYER_UNITS, WORKLOADS

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    w = WORKLOADS[args.workload](WORK, args.seed, args.scale, cores)

    spark = start_session(cores)
    log("session started")
    w.prepare(spark)  # inputs and the oracle's reference, outside clocks
    log(f"{w.name}: {w.n_docs} docs, seed {args.seed}, local[{cores}]")

    # set-up = session start to the first completed job
    setups, starts, py_warm = [], [], []
    for _ in range(N_SETUPS):
        spark.stop()
        t0 = time.monotonic()
        spark = start_session(cores)
        t1 = time.monotonic()
        py_warm.append(w.first_job(spark))
        setups.append(time.monotonic() - t0)
        starts.append(t1 - t0)
    log("set-up done")

    # memory is sampled from the warm-up on, so the peak has time to
    # reach the steady-state heap size
    with RssSampler() as rss:
        w.warm_up(spark)
        log("warm-up done")
        # with tracing, untraced and traced passes alternate, so both see
        # the same host
        plain, traced, spans = timed_passes(
            w, spark, args.seconds, traced_every=2 if args.trace else 0)
    w.finish(spark)
    wall = median(plain)
    log(f"passes {['%.3f' % p for p in plain]} "
        f"setups {['%.3f' % s for s in setups]}")

    if not args.trace:
        metrics = {
            "setup_s": (median(setups), "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (w.n_docs / wall, "1/s"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
        }
    else:
        span_s = {k: median([t[1][k] for t in traced]) for k in traced[0][1]}
        vals = dict.fromkeys(LAYER_UNITS, 0.0)
        vals.update(w.layers(spark, span_s))
        vals["session.start_s"] = median(starts)
        vals["session.py_pool_warm_s"] = median(py_warm)
        vals["trace.untraced_wall_s"] = wall
        vals["trace.wall_s"] = median([t[0] for t in traced])
        vals["trace.overhead_s"] = vals["trace.wall_s"] - wall
        vals["trace.layer_cover_frac"] = (
            vals["trace.layer_sum_s"] / vals["trace.wall_s"])
        if w.measures_scaling:
            spark.stop()
            spark = start_session(1)
            vals["job.scale_eff"] = _single_core_wall(w, spark) / wall / cores
        with open(os.path.join(WORK, f"spans-{w.name}.json"), "w") as f:
            json.dump(spans, f, indent=1)
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in vals.items()}
        log(json.dumps(vals, indent=1))

    log("passes and checks done")
    stop_session(spark)
    wait_children()
    for name, ok in w.checks:
        log(f"check {name}: {'ok' if ok else 'FAILED'}")
    failed = sum(not ok for _, ok in w.checks)
    return {
        "correct": failed == 0,
        "attempted": len(plain) + len(traced) + len(w.checks),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _single_core_wall(w, spark) -> float:
    """Median wall time of the job on a local[1] session (the first pass
    warms the new session and is not counted)."""
    from perfbench.measure import median

    plain = []
    for _ in range(3):
        plain += timed_passes(w, spark, 0)[0]
    return median(plain[1:])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke run uses a tiny one)")
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)  # every run starts clean
    _prepare_env()
    try:
        import bench  # noqa: F401  (the pipeline spec lives there)
        import logagent_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
