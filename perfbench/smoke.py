"""Smoke run of the benchmark: every workload of BENCHMARK.json at a tiny
input, untraced and traced. Fails unless each run exits 0, passes all
its correctness checks and emits exactly the metrics BENCHMARK.json
names, each with its unit.

    python3 perfbench/smoke.py        # ~4 minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise RuntimeError(f"exit {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            tag = f"{wl['name']} --trace {trace}"
            try:
                res = run_once(wl["name"], trace)
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                problems.append(f"{tag}: {e}")
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json:"
                                f" missing {sorted(set(want) - set(got))},"
                                f" extra {sorted(set(got) - set(want))},"
                                f" units {[k for k in want if k in got and got[k] != want[k]]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: {res['failed']} of "
                                f"{res['attempted']} operations or checks failed")
            print(f"{tag}: {len(got)} metrics, correct={res['correct']}",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
