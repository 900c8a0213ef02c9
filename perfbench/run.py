#!/usr/bin/env python3
"""Benchmark of the medallion flow and the query registry.

Run from the root of a checkout of the program:

    python3 perfbench/run.py --workload late_correction --seed 1 \
        --seconds 10 --trace 0

It compiles the program (`src/main/scala`) together with the benchmark's
Scala sources (`perfbench/src`) into `.bench_build/`, writes the seeded input
lake into a fresh workspace under `.bench_work/`, runs one JVM there with
the program's own Spark configuration, checks every output and prints one
JSON line: the end-to-end metrics with `--trace 0`, the per-layer metrics
(and the tracing overhead) with `--trace 1`. The workloads, their layers
and the registry query list are described in `perfbench/workloads.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 170  # one run, build excluded
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "2g"


class BenchError(Exception):
    pass


def load_json(path):
    with open(path) as f:
        return json.load(f)


def spark_jars():
    """The jars of the Spark distribution at SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars under $SPARK_HOME/jars")
    return jars


def cpus():
    """Spark slots: every CPU this process may use, at most four."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def session_calls(path):
    """The `.master(...)` and `.config(...)` calls of the first
    `SparkSession.builder()` chain in a Scala file, comments dropped and
    whitespace squeezed."""
    with open(path) as f:
        text = re.sub(r"//[^\n]*", "", f.read())
    start = text.find("SparkSession.builder()")
    end = text.find(".getOrCreate()", start)
    if start < 0 or end < 0:
        raise BenchError(f"no SparkSession.builder() chain in {path}")
    chain = re.sub(r"\s+", "", text[start + len("SparkSession.builder()"):end])
    calls = re.findall(r"\.(\w+)\(((?:[^()]|\([^()]*\))*)\)", chain)
    if "".join(f".{m}({a})" for m, a in calls) != chain:
        raise BenchError(f"unreadable SparkSession.builder() chain in {path}")
    return sorted(calls)


def check_session(root):
    """The benchmark's session must be built exactly as graft.Bench builds
    the program's, so a change there cannot go unmeasured."""
    program = session_calls(os.path.join(root, "src/main/scala/graft/Bench.scala"))
    ours = session_calls(os.path.join(HERE, "src", "Main.scala"))
    if program != ours:
        raise BenchError(
            "perfbench/src/Main.scala builds its Spark session differently from "
            f"graft.Bench:\n  Bench: {program}\n  perfbench: {ours}")


def build(root, jars):
    """Compiles the program and the benchmark into one jar, then records a
    class-data-sharing archive of a training run, so that every benchmark
    JVM starts with Spark's classes already parsed: measured on a 4-vCPU
    host, it cuts a run's wall time by 9-12 s (JVM start to session ready
    6.7-8.6 s -> 2.8-3.3 s), which keeps a full evaluation of the workloads
    within its time budget. Reuses a build of the same sources."""
    check_session(root)
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BenchError("no program sources under src/main/scala")
    sources = program + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in sources + [os.path.join(HERE, "workloads.json")]:  # the training reads it
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(base, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    p = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    if p.returncode != 0:
        raise BenchError("compilation failed:\n" + p.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    desc = load_json(os.path.join(HERE, "workloads.json"))
    ws = os.path.join(base, "train")
    shutil.rmtree(ws, ignore_errors=True)
    try:
        lake, twins = make_inputs(ws, "late_correction", desc["lake"], 1, sf=0.001)
        cmd, env = java(ws, out, jars, "perfbench.Train", [
            lake, twins, str(cpus()),
            ",".join(desc["workloads"]["registry_mix"]["queries"])])
        cmd.insert(1, "-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa"))
        p = subprocess.run(cmd, cwd=ws, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=600)
        if p.returncode != 0:
            raise BenchError("training run failed:\n" + p.stdout[-4000:])
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def make_inputs(ws, workload, lake_cfg, seed, sf=None):
    """Writes the seeded lake (and, for late corrections, the twins)."""
    lake = os.path.join(ws, "lake")
    twins = os.path.join(ws, "twins") if workload == "late_correction" else None
    gen.generate(lake, sf or lake_cfg["sf"], seed, lake_cfg["months"],
                 twins_dir=twins)
    return lake, twins or ""


def java(ws, build_dir, jars, main, args):
    """A fixed-heap JVM running `main` with the workspace as its working,
    temporary and Spark scratch directory."""
    os.makedirs(os.path.join(ws, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(ws, "local"), exist_ok=True)
    open(os.path.join(ws, ".perfbench-workspace"), "w").close()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(ws, "local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(ws, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.path.join(build_dir, "app.jar") + os.pathsep
              + os.path.join(jars, "*"), main] + args)
    archive = os.path.join(build_dir, "app.jsa")
    if os.path.exists(archive):
        cmd.insert(1, "-XX:SharedArchiveFile=" + archive)
    return cmd, env


def run_jvm(ws, build_dir, jars, args, deadline):
    cmd, env = java(ws, build_dir, jars, "perfbench.Main", args)
    with open(os.path.join(ws, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ws, env=env, stdout=log, stderr=log)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("benchmark JVM timed out")
    if p.returncode != 0:
        with open(os.path.join(ws, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"benchmark JVM exited with {p.returncode}:\n{tail}")


def end_to_end(op_s, session_s, setup_rep_s, heap_mb):
    return {
        "setup_s": session_s + stats.median(setup_rep_s),
        "ops_per_s": stats.rate(len(op_s), sum(op_s)),
        "op_p50_s": stats.median(op_s),
        "retained_heap_mb": heap_mb,
    }


def own_metrics(desc, workload):
    """The per-layer metrics the workload's traced run must sample."""
    return set(desc["per_layer_every_workload"]) | set(desc["workloads"][workload]["per_layer"])


def summarize(raw, trace, spec, own):
    """Metrics of one run from the JVM's raw samples. A traced run must
    have samples of every metric in `own`; the other per-layer metrics
    belong to layers the workload never reaches and read 0."""
    if not trace:
        e2e = end_to_end(raw["op_s"], raw["session_s"], raw["setup_rep_s"],
                         raw["heap_mb"])
        return {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                for m in spec["end_to_end"]}
    reference = end_to_end(raw["reference_op_s"], 0.0,
                           [raw["reference_setup_rep_s"]], raw["heap_mb"])
    traced = end_to_end(raw["traced_op_s"], 0.0, [raw["traced_setup_rep_s"]],
                        raw["traced_heap_mb"])
    layers = dict(raw["layers"], **{"run.ops": [len(raw["op_s"])],
                                     "run.cpu_given": raw["op_given"]})
    unsampled = sorted(n for n in own
                       if not n.startswith("overhead.") and not layers.get(n))
    if unsampled:
        raise BenchError("traced run has no samples of " + ", ".join(unsampled))
    unlisted = sorted(m["name"] for m in spec["per_layer"]
                      if m["name"] not in own and layers.get(m["name"]))
    if unlisted:
        raise BenchError("traced run sampled metrics not listed for the workload: "
                         + ", ".join(unlisted))
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name.startswith("overhead."):
            base = name[len("overhead."):]
            value = traced[base] - reference[base]
        elif name in own:
            value = stats.median(layers[name])
        else:
            value = 0.0
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, help="override the workload's scale")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected result (checks must fail)")
    a = ap.parse_args(argv)

    root = os.getcwd()
    spec = load_json(os.path.join(root, "BENCHMARK.json"))
    desc = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in desc["workloads"]:
        raise BenchError(f"unknown workload {a.workload}")
    cfg = desc["workloads"][a.workload]
    jars = spark_jars()
    build_dir = build(root, jars)

    started = time.monotonic()
    ws = os.path.join(root, ".bench_work",
                      f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    try:
        lake, twins = make_inputs(ws, a.workload, desc["lake"], a.seed, a.sf)
        out = os.path.join(ws, "result.json")
        traces = os.path.join(root, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        args = ["--workload", a.workload, "--lake", lake, "--twins", twins,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus()),
                "--traced-passes", str(cfg["traced_passes"]),
                "--queries", ",".join(cfg.get("queries", [])),
                "--plant-wrong", "1" if a.plant_wrong else "0",
                "--out", out,
                "--spans-out", os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")]
        run_jvm(ws, build_dir, jars, args, started + RUN_LIMIT_S)
        raw = load_json(out)
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    for e in raw["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": summarize(raw, a.trace == 1, spec, own_metrics(desc, a.workload)),
    }))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
