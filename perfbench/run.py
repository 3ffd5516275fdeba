#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), runs the
workload in one JVM, checks its outputs, prints a table of every metric
with its unit and sample count, and prints as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. Exits non-zero, printing no result, when the build or
the run fails, and with code 1 after the result when an output check
found a wrong answer. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import curate_check  # noqa: E402

WORKLOADS = ("search", "detect", "ingest", "curate")

# The end-to-end metric each workload reports under each BENCHMARK.json
# name, with the factor that converts it. Every workload reports every
# name; the workload-specific metrics behind them are printed in the table.
CONTRACT = {
    "search": {"cpu_ms_per_op": ("query_cpu_ms", 1)},
    "detect": {"cpu_ms_per_op": ("text_cpu_ms", 1)},
    "ingest": {"cpu_ms_per_op": ("round_cpu_ms", 1)},
    "curate": {"cpu_ms_per_op": ("pass_cpu_ms", 1)},
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-Xss16m", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false"]


# Extra JVM options by workload. curate's JVM compiles with C1 only: under
# C2 the JIT compiler never settled on curate (every pass compiles Spark's
# newly generated classes), and a pass's CPU time moved by about a fifth
# between runs with how far it had got; with C1 alone it moved by under 1 %.
JVM_BY_WORKLOAD = {"curate": ["-XX:TieredStopAtLevel=1"]}


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(cp, args, work, timeout, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, *extra, f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout, cwd=work)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1 = the benchmark's sizes)")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="feed every output check a wrong answer (see selfcheck.py)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(str(e))

    work = os.path.join(build.OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(build.OUT, "report.json")
    if os.path.exists(out):
        os.remove(out)
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", os.path.join(work, "run"),
                 "--data", os.path.join(HERE, "data"), "--out", out, "--scale", str(a.scale),
                 "--corrupt", str(a.corrupt)],
            work, timeout=170, extra=JVM_BY_WORKLOAD.get(a.workload, []))
    with open(out) as fh:
        rep = json.load(fh)

    if a.workload == "curate":
        t0 = time.time()
        for name, checked, wrong, detail in curate_check.check(
                os.path.join(HERE, "data", "sf0.01"), os.path.join(work, "run", "curate"),
                os.path.join(build.OUT, "oracle"), corrupt=bool(a.corrupt)):
            rep["checks"].append({"name": name, "checked": checked, "wrong": wrong,
                                  "detail": detail})
            rep["failed"] += wrong
        print(f"[perfbench] oracle check {time.time() - t0:.1f} s", file=sys.stderr)
    if a.trace:
        shutil.copy(os.path.join(work, "run", "spans.jsonl"),
                    os.path.join(build.OUT, f"spans_{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    metrics = rep["layer"] if a.trace else rep["metrics"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"attempted {rep['attempted']} failed {rep['failed']}")
    for k, v in sorted(rep["input_hashes"].items()):
        print(f"  input {k}: {v}")
    for c in rep["checks"]:
        print(f"  check {c['name']}: {c['wrong']} wrong of {c['checked']} {c['detail']}")
    for e in rep["errors"]:
        print(f"  error {e}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:14.4f} {v['unit']:9s} n={v['n']}")

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload does not run reports 0 with n=0
        result = {n: {"value": metrics[n]["value"] if n in metrics else 0.0, "unit": units[n]}
                  for n in names}
    else:
        result = {}
        for m in spec["end_to_end"]:
            src, factor = CONTRACT[a.workload].get(m["name"], (m["name"], 1))
            if src not in metrics:
                fail(f"workload {a.workload} measured no {src}")
            result[m["name"]] = {"value": metrics[src]["value"] * factor, "unit": m["unit"]}
    correct = rep["failed"] == 0 and all(c["wrong"] == 0 for c in rep["checks"])
    print(json.dumps({"correct": correct, "attempted": rep["attempted"], "failed": rep["failed"],
                      "metrics": result}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
