"""End-to-end smoke of every benchmark workload on a tiny lake (sf 0.001).

Each workload must run clean in a traced run and report every per-layer
metric: those of its own layers measured (a traced run fails when one of
them has no samples), the rest 0; with one expected result planted wrong, the same workload must
count failed operations (error rate above 0) and report correct = false.
Takes a few minutes; run from the repository root:

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402

DESC = run.load_json(os.path.join(ROOT, "perfbench", "workloads.json"))
TIMES = {"s", "ms", "1/s"}
# differences of two runs, and GC time, which a short traced pass may not see
UNTIMED = {m["name"] for m in SPEC["per_layer"] if m["name"].startswith("overhead.")} | {
    "engine.gc_s"}


def bench(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_every_workload(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = bench(w, 1)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreater(r["attempted"], 0)
                self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["per_layer"]})
                own = run.own_metrics(DESC, w)
                for m in SPEC["per_layer"]:
                    value = r["metrics"][m["name"]]["value"]
                    if m["name"] not in own:
                        self.assertEqual(value, 0.0, m["name"])
                    elif m["unit"] in TIMES and m["name"] not in UNTIMED:
                        self.assertGreater(value, 0.0, m["name"])

                r = bench(w, 0, "--plant-wrong")
                self.assertFalse(r["correct"], r)
                self.assertGreater(r["failed"] / r["attempted"], 0)
                self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
