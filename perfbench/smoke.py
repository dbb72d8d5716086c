#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py

Checks that every workload runs untraced and traced, that each run reports
every metric BENCHMARK.json declares for its mode with the declared unit,
and that a planted bad row (a politeness-quota violation) fails the output
checks and is counted as a failed operation.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def run(workload, trace, plant=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            r = run(w, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {r}")
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                wrong = sorted(k for k in got if k in declared[trace] and got[k] != declared[trace][k])
                problems.append(f"{w} trace={trace}: missing {missing} extra {extra} unit {wrong}")
            print(f"ok {w} trace={trace}: {len(got)} metrics", flush=True)
        r = run(w, 0, plant="quota")
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w}: planted quota violation not detected: {r}")
        print(f"ok {w} planted quota violation: failed={r['failed']}", flush=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
