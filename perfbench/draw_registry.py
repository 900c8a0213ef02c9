#!/usr/bin/env python3
"""Draws the registry_mix query list once and records it by name.

Run from the repository root: python3 perfbench/draw_registry.py

Every registry query is grouped by the module that registers it. Each
module's queries are shuffled with the list seed, and candidates are
screened in that order on the benchmark lake (written with the list seed):
a query is kept when it runs without error, hashes the same on two runs
and its second run stays under the time cap, until the module's quota is
filled. The list, the seed, the quotas and every screened candidate with
its outcome are written into perfbench/workloads.json.
"""
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

LIST_SEED = 1017
QUOTAS = {"star": 1, "llm": 1, "multimodal": 1, "sources": 1, "pipeline": 1}
CAP_S = 1.2  # second-run latency cap: a pass must fit the run budget
BATCH = 4    # candidates screened per module and round


def jvm_lines(ws, build_dir, jars, args):
    cmd, env = run.java(ws, build_dir, jars, "perfbench.Screen", args)
    p = subprocess.run(cmd, cwd=ws, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, check=True)
    return [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]


def main():
    root = os.getcwd()
    jars = run.spark_jars()
    path = os.path.join(HERE, "workloads.json")
    desc = run.load_json(path)
    build_dir = run.build(root, jars)
    ws = os.path.join(root, ".bench_work", "draw")
    shutil.rmtree(ws, ignore_errors=True)
    try:
        lake, _ = run.make_inputs(ws, "registry_mix", desc["lake"], LIST_SEED)
        by_module = {}
        for q in jvm_lines(ws, build_dir, jars, ["--list"]):
            by_module.setdefault(q["module"], []).append(q["name"])
        rng = random.Random(LIST_SEED)
        order = {m: rng.sample(sorted(names), len(names))
                 for m, names in sorted(by_module.items())}
        chosen = {m: [] for m in QUOTAS}
        screened = []
        while any(len(chosen[m]) < k and order[m] for m, k in QUOTAS.items()):
            batch = []
            for m, k in QUOTAS.items():
                need = min(BATCH, len(order[m])) if len(chosen[m]) < k else 0
                batch += order[m][:need]
                order[m] = order[m][need:]
            for r in jvm_lines(ws, build_dir, jars, [lake, str(run.cpus())] + batch):
                ok = "error" not in r and r["stable"] and r["s2"] <= CAP_S
                m = r["module"]
                kept = ok and len(chosen[m]) < QUOTAS[m]
                if kept:
                    chosen[m].append(r["name"])
                r["outcome"] = ("kept" if kept else "eligible, quota full" if ok
                                else "error" if "error" in r
                                else "unstable hash" if not r["stable"]
                                else f"over {CAP_S} s")
                screened.append(r)
                print(json.dumps(r), file=sys.stderr)
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    reg = desc["workloads"]["registry_mix"]
    reg["queries"] = [q for m in QUOTAS for q in chosen[m]]
    reg["draw"] = {"list_seed": LIST_SEED, "quotas": QUOTAS, "cap_s": CAP_S,
                   "screened": screened}
    with open(path, "w") as f:
        json.dump(desc, f, indent=2)
        f.write("\n")
    print(json.dumps(reg["queries"]))


if __name__ == "__main__":
    main()
