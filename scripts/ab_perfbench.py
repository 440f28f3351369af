"""Interleaved A/B of the repository benchmark between two git revisions.

    python3 scripts/ab_perfbench.py PARENT CHANGE --workload html_grok_dedup \
        --seeds 701-710

Each revision is exported with `git archive` into its own directory under
--workdir (default: ab_perfbench/ in the system temp directory), so both
sides build from committed files only (a `git stash create` commit works
for an uncommitted tree). For every seed, both sides run
`perfbench/run.py --trace 0` (or --trace 1) one after the other, for the
`run_seconds` that BENCHMARK.json sets; the side that goes first
alternates from seed to seed, so drift in host speed falls on both sides
alike. Each run's stderr goes to a log file in
--workdir, and the results are kept there in
results-<workload>-t<trace>-<first seed>-<last seed>.json.

For each metric the summary prints each side's median and quartiles, the
number of seeds on which the change did better (the direction comes from
BENCHMARK.json) and the change/parent ratio of the medians. It also says
whether the medians differ by more than the parent's interquartile
spread, and whether both sides read the same value on every seed (for
counts that must not move).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """'701-705,711' -> [701, 702, 703, 704, 705, 711]"""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export(rev: str, workdir: str) -> str:
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, sha[:12])
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.Popen(
            ["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
    return dest


def run_one(checkout: str, args, seed: int, seconds: float,
            log_path: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(args.trace)]
    with open(log_path, "w") as log:
        out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                             stderr=log, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0,
                "metrics": {}, "exit": out.returncode}
    return json.loads(lines[-1])


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def summarize(results: list[dict], better: dict) -> list[str]:
    names = sorted({m for r in results for side in ("parent", "change")
                    for m in r[side]["metrics"]})
    out = [
        "| metric | parent median [q1, q3] | change median [q1, q3] "
        "| change wins | change/parent | beyond parent IQR "
        "| equal on every seed |",
        "|---|---|---|---|---|---|---|",
    ]
    for m in names:
        pairs = [(r["parent"]["metrics"][m]["value"],
                  r["change"]["metrics"][m]["value"])
                 for r in results
                 if m in r["parent"]["metrics"]
                 and m in r["change"]["metrics"]]
        if not pairs:
            continue
        p = [a for a, _ in pairs]
        c = [b for _, b in pairs]
        pq, cq = quartiles(p), quartiles(c)
        sign = -1 if better.get(m) == "lower" else 1
        wins = sum(sign * (b - a) > 0 for a, b in pairs)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        beyond = abs(cq[1] - pq[1]) > (pq[2] - pq[0])
        out.append(
            f"| {m} | {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] "
            f"| {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] "
            f"| {wins}/{len(pairs)} | {ratio:.3f} "
            f"| {'yes' if beyond else 'no'} "
            f"| {'yes' if p == c else 'no'} |")
    for side in ("parent", "change"):
        bad = sum(not r[side]["correct"] for r in results)
        failed = sum(r[side]["failed"] for r in results)
        attempted = sum(r[side]["attempted"] for r in results)
        out.append(f"\n{side}: {len(results) - bad}/{len(results)} runs "
                   f"correct, {failed}/{attempted} operations failed")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="ab_perfbench")
    ap.add_argument("parent", help="git revision of the baseline side")
    ap.add_argument("change", help="git revision of the changed side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="e.g. 701-710 or 701,703,705")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir",
                    default=os.path.join(tempfile.gettempdir(), "ab_perfbench"))
    args = ap.parse_args(argv)

    os.makedirs(args.workdir, exist_ok=True)
    sides = {"parent": export(args.parent, args.workdir),
             "change": export(args.change, args.workdir)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}

    out_json = os.path.join(
        args.workdir, f"results-{args.workload}-t{args.trace}-"
        f"{args.seeds[0]}-{args.seeds[-1]}.json")
    results = []
    for k, seed in enumerate(args.seeds):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        res = {"seed": seed, "first": order[0]}
        for side in order:
            log = os.path.join(
                args.workdir,
                f"{args.workload}-t{args.trace}-{seed}-{side}.log")
            res[side] = run_one(sides[side], args, seed,
                                spec["run_seconds"], log)
            m = res[side]["metrics"]
            wall = m.get("wall_s", m.get("trace.wall_s", {})).get("value")
            print(f"seed {seed} {side}: correct={res[side]['correct']} "
                  f"wall_s={wall}", file=sys.stderr, flush=True)
        results.append(res)
        with open(out_json, "w") as f:
            json.dump(results, f, indent=1)

    print(f"{args.workload}, --trace {args.trace}, seeds "
          f"{args.seeds[0]}..{args.seeds[-1]} ({len(args.seeds)} pairs, "
          f"alternating order); parent {args.parent}, change {args.change}")
    print("\n".join(summarize(results, better)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
