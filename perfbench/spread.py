#!/usr/bin/env python3
"""Run one workload under several seeds and report each end-to-end
metric's median and spread (quartile distance as a share of the median,
from statistics.quantiles(values, n=4)), next to a third of its bound.

    python3 perfbench/spread.py --workload etl_daily --seeds 1 2 3 4 5

Run from the root of a checkout; each seed is one `perfbench/run.py` run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout.splitlines()[-1]
        result = json.loads(out)
        if not result["correct"]:
            sys.exit(f"seed {seed}: incorrect result: {out}")
        for name in bounds:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.6g}" for n, v in values.items()),
              flush=True)
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < bounds[name] / 3 else "WIDE"
        print(f"{name:30s} median {med:12.6g}  spread {spread:7.4f}  "
              f"bound/3 {bounds[name] / 3:.4f}  {flag}")


if __name__ == "__main__":
    main()
