"""Steadiness check: run every workload untraced once per seed and
report, for each end-to-end metric, the quartile spread of its values as
a share of their median, next to the metric's bound.

    python3 perfbench/steady.py --runs 10 --first-seed 1001 --out perfbench/steadiness/set1.json

Run from the root of a checkout. The record holds every run's result
line and host record, and each metric's spread; the benchmark aims for
spreads below a third of the bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines()
    rec = json.loads(out[-1])
    env = next((json.loads(line[4:]) for line in out if line.startswith("env ")), {})
    return {"seed": seed, "wall_s": time.monotonic() - t, "result": rec, "env": env}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [run_once(w, s, spec["run_seconds"]) for s in range(args.first_seed, args.first_seed + args.runs)]
        stats = {}
        for m, bound in bounds.items():
            st = spread([r["result"]["metrics"][m]["value"] for r in runs])
            st.update(bound=bound, within_third=st["spread"] < bound / 3)
            stats[m] = st
            print(f"{w:10s} {m:14s} median={st['median']:.4g} spread={st['spread']:.3f} bound={bound}",
                  flush=True)
        entry = {"runs": runs, "spread": stats}
        print(f"{w} run wall median {statistics.median(r['wall_s'] for r in runs):.1f} s", flush=True)
        report["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
