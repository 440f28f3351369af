"""Interleaved A/B, inside one process, of the Python worker daemon.

    python3 scripts/ab_worker_path.py --rounds 8 --cores 4

Arm A starts Spark's own daemon (`spark.python.daemon.module` set to
`pyspark.daemon` through `get_spark`'s `extra`): workers import pyspark
from Spark's source zip, with the zips and the spark-core jar on
`sys.path`. Arm B takes the engine default (`logagent_spark._pydaemon`
where the guard in `session.get_spark` allows it). Every round starts one
session per arm, in alternating order, in the same JVM; each session
times its first Python job (a trivial Arrow UDF over `--cores` splits,
which starts the worker pool) and then the median of `--reps` runs of a
trivial Arrow UDF over 10k rows at 1, 4, 8 and 16 partitions. The summary
gives each arm's median per measurement, the B/A ratio and the rounds B
won. Each session also reports what its workers ran: `pyspark.__file__`
and the number of zipimporters in `sys.path_importer_cache`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTITIONS = (1, 4, 8, 16)
QUIET = {"spark.ui.showConsoleProgress": "false"}
ARMS = {"A": {**QUIET, "spark.python.daemon.module": "pyspark.daemon"},
        "B": QUIET}


def _worker_view(it):
    import zipimport

    import pyarrow as pa
    import pyspark

    for _ in it:
        yield pa.RecordBatch.from_pylist([{
            "pyspark": pyspark.__file__,
            "zipimporters": sum(isinstance(f, zipimport.zipimporter)
                                for f in sys.path_importer_cache.values())}])


def _same(s: pd.Series) -> pd.Series:
    return s


def session_run(arm: str, cores: int, reps: int) -> dict:
    from pyspark.sql import functions as F

    from logagent_spark.session import get_spark

    def udf_job(n_parts: int) -> float:
        t0 = time.monotonic()
        spark.range(0, 10_000, 1, n_parts).select(same("id").alias("x")) \
            .agg(F.sum("x")).collect()
        return time.monotonic() - t0

    spark = get_spark("ab_worker_path", parallelism=cores,
                      shuffle_partitions=cores, extra=ARMS[arm])
    same = F.pandas_udf(_same, "long")
    out = {"first_job_s": udf_job(cores)}
    for n in PARTITIONS:
        out[f"udf_{n}p_s"] = statistics.median(
            udf_job(n) for _ in range(reps))
    view = spark.range(0, 1, 1, 1).mapInArrow(
        _worker_view, "pyspark string, zipimporters long").first()
    out["daemon"] = spark.conf.get("spark.python.daemon.module", "")
    out["worker_pyspark"] = view.pyspark
    out["worker_zipimporters"] = view.zipimporters
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    # the workers of both arms import the engine from the repository
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, REPO)

    runs = {"A": [], "B": []}
    for r in range(args.rounds):
        for arm in ("AB" if r % 2 == 0 else "BA"):
            runs[arm].append(session_run(arm, args.cores, args.reps))
            print(f"round {r} arm {arm}: {json.dumps(runs[arm][-1])}",
                  file=sys.stderr, flush=True)

    keys = ["first_job_s"] + [f"udf_{n}p_s" for n in PARTITIONS]
    summary = {}
    for k in keys:
        a = statistics.median(x[k] for x in runs["A"])
        b = statistics.median(x[k] for x in runs["B"])
        wins = sum(y[k] < x[k] for x, y in zip(runs["A"], runs["B"]))
        summary[k] = {"A": round(a, 3), "B": round(b, 3),
                      "B/A": round(b / a, 3),
                      "B_wins": f"{wins}/{args.rounds}"}
        print(f"{k:12s} A {a:7.3f}  B {b:7.3f}  B/A {b / a:6.3f}  "
              f"B wins {wins}/{args.rounds}")
    for arm in "AB":
        last = runs[arm][-1]
        print(f"arm {arm}: daemon {last['daemon'] or '(Spark default)'}, "
              f"workers import {last['worker_pyspark']}, "
              f"{last['worker_zipimporters']} zipimporters")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
