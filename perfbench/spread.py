#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Run from the repository root:

    python3 perfbench/spread.py --workload registry_mix --seeds 1-10

Runs perfbench/run.py once per seed (each run its own process, as the
benchmark is always run) and prints every run's metrics and wall time, then
per metric the median and the distance between the first and third
quartile as a share of the median: the steadiness each end-to-end metric
must keep within its bound in BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    values = {}
    for seed in a.seeds:
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", a.trace], stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        line = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {r['correct']} "
              f"attempted {r['attempted']} failed {r['failed']} {json.dumps(line)}")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        med = stats.median(v)
        spread = stats.iqr_share(v) if len(v) > 1 and med else float("nan")
        print(f"{k:32s} median {med:12.4f}  iqr/median {spread:.3f}  (n={len(v)})")


if __name__ == "__main__":
    main()
