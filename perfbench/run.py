#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark into `.bench_build` (see build.py); every run then starts one
JVM (local mode, at most four worker threads) that makes the workload's
inputs from the seed, sets up, measures for `--seconds`, checks every
output and prints its metrics. The last line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the `end_to_end` metrics of BENCHMARK.json when `--trace 0` and its
`per_layer` metrics when `--trace 1`. A traced run also writes
`.bench_build/work/<workload>/trace/<workload>-seed<n>.json`, which
layer_diff.py compares.
"""
import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the suite's expected results instead of benchmarking")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]] and not a.record:
        raise SystemExit(f"unknown workload {a.workload}")

    build_dir = os.path.join(ROOT, ".bench_build")
    classpath = build.build(build_dir)

    work = os.path.join(build_dir, "work", a.workload)
    for sub in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_REF_DIR=os.path.join(work, "ref"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "scratch"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected", "suite_sf0.01.json")]
    if a.record:
        cmd += ["--record", "1"]

    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, text=True, cwd=ROOT)
        try:
            limit = RECORD_TIMEOUT_S if a.record else JVM_TIMEOUT_S
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM timed out after {limit} s (log: {log_path})")
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("RESULT "):
            print(line)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode} (log: {log_path})")
    if a.record:
        return

    result = [json.loads(l[len("RESULT "):]) for l in lines if l.startswith("RESULT ")]
    if not result:
        raise SystemExit("benchmark JVM printed no result")
    got = result[-1]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got["metrics"].get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({"correct": got["correct"], "attempted": got["attempted"],
                      "failed": got["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
