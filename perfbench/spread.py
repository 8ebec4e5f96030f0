#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed and prints, per metric, the median and the distance between the first
and third quartile as a share of the median, next to the metric's bound.

    python3 perfbench/spread.py --workload select_scan --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med
        print(f"{m['name']:>12}  median {med:.6g} {m['unit']}  "
              f"spread {spread:.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
