#!/usr/bin/env python3
"""Self-check of the benchmark at a tiny size.

    python3 perfbench/selfcheck.py [workload ...]

For each workload (all four by default) it runs perfbench/run.py three
times at --scale 0.05 for one second:

  1. seed 5: the run must pass its output checks;
  2. seed 5 again with --corrupt 1, which feeds every output check a wrong
     answer: the run must exit non-zero with "correct": false, and every
     check must report wrong answers; its input hashes must equal run 1's;
  3. seed 6: its input hashes must differ from run 1's, except for curate,
     whose input is the fixed sf0.01 table.

Prints one line per finding and exits 1 if any expectation fails.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("search", "detect", "ingest", "curate")
FIXED_INPUT = {"curate"}


def run(workload, seed, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0", "--scale", "0.05",
           "--corrupt", str(corrupt)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    lines = proc.stdout.splitlines()
    hashes = dict(re.findall(r"^  input (\S+): (\S+)$", proc.stdout, re.M))
    checks = {m[0]: (int(m[1]), int(m[2]))
              for m in re.findall(r"^  check (\S+): (\d+) wrong of (\d+)", proc.stdout, re.M)}
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, hashes, checks, result


def main():
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for w in sys.argv[1:] or WORKLOADS:
        rc, hashes, checks, res = run(w, 5, 0)
        expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
               f"{w}: clean run passes its checks (exit {rc}, checks {checks})")
        expect(bool(hashes) and bool(checks), f"{w}: reports input hashes and output checks")
        rc2, hashes2, checks2, res2 = run(w, 5, 1)
        expect(hashes2 == hashes, f"{w}: same seed gives the same input hashes")
        expect(rc2 != 0 and res2 is not None and not res2["correct"],
               f"{w}: corrupted answers fail the run (exit {rc2})")
        for name in checks:
            wrong, checked = checks2.get(name, (0, 0))
            expect(wrong > 0, f"{w}: check {name} catches corrupted answers ({wrong} of {checked})")
        _, hashes3, _, _ = run(w, 6, 0)
        if w in FIXED_INPUT:
            expect(hashes3 == hashes, f"{w}: fixed input hashes the same under another seed")
        else:
            expect(bool(hashes3) and all(hashes3.get(k) != v for k, v in hashes.items()),
                   f"{w}: another seed gives other input hashes")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
