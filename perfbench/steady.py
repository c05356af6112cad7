"""Steadiness mode: run the benchmark as two sets of runs and print each
metric's spread, the number its bound in ``BENCHMARK.json`` is set from.

    python3 perfbench/steady.py --workload embargo_publish --runs 10

Each run is ``perfbench/run.py`` in its own process with its own seed
(run ``i`` of both sets uses seed ``FIRST_SEED + i``).  Per set and metric
it prints the median and the spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median.  It also prints how much the second set's median is worse than
the first's, as a share of the first.  Failed runs are listed and left
out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
FIRST_SEED = 1


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    start = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.getcwd(), timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"# seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    return dict(json.loads(lines[-1]), wall_s=time.monotonic() - start)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description="two sets of benchmark runs and their spreads")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    sets: list[dict[str, list[float]]] = []
    for s in range(SETS):
        values: dict[str, list[float]] = {}
        for i in range(args.runs):
            seed = FIRST_SEED + i
            res = run_once(args.workload, seed, bench["run_seconds"])
            if res is None or not res["correct"]:
                print(f"# set {s} seed {seed}: failed {res and res['failed']}")
                continue
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(json.dumps({"set": s, "seed": seed, "wall_s": round(res["wall_s"], 1),
                              **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}))
            sys.stdout.flush()
        sets.append(values)

    summary = {}
    for name in sets[0]:
        row = {}
        for s, values in enumerate(sets):
            vals = values.get(name, [])
            if len(vals) >= 2:
                row[f"median{s}"] = statistics.median(vals)
                row[f"spread{s}"] = round(spread(vals), 4)
        if name in bounds and "median1" in row and row["median0"]:
            lower = bounds[name]["better"] == "lower"
            delta = (row["median1"] - row["median0"]) / row["median0"]
            row["worse_by"] = round(delta if lower else -delta, 4)
            row["bound"] = bounds[name]["bound"]
        summary[name] = row
    print(json.dumps({"workload": args.workload, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
