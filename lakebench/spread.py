#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's median and spread.

    python3 lakebench/spread.py --workload <name> --seeds 1 2 3 4 5

The spread is the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, the figure
the bounds in BENCHMARK.json are compared with. Each run is a separate
untraced `run.py` process of `run_seconds` (from BENCHMARK.json). Run it
from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in a.seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = float("nan")
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / abs(med)
        bound = bounds.get(k)
        flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
        print(f"{k:34s} median={med:.6g} spread={spread:.4f} bound={bound}{flag}")


if __name__ == "__main__":
    main()
