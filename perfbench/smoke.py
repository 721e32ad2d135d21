#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a small scale (sf 0.001 tables, a
20k-document corpus, 2-second windows).

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs an untraced and a traced run
and checks that each prints exactly the metric names and units that
BENCHMARK.json lists, with every answer correct. It then runs every workload
with its expected answers deliberately corrupted and checks that the run
reports the failure, which shows the answer gate is live. Every check runs;
the script exits non-zero if any failed or a run crashed.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = ["--seconds", "2", "--sf", "0.001", "--docs", "20000"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--trace", str(trace)] + SMALL + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout + p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return json.loads(lines[-1])


FAILED = []


def expect(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILED.append(what)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(name, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(set(r) == {"correct", "attempted", "failed", "metrics"},
                   f"{name} trace={trace}: result keys")
            expect(got == want, f"{name} trace={trace}: metric names and units")
            expect(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                   f"{name} trace={trace}: numeric values")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name} trace={trace}: every answer correct ({r['failed']} of {r['attempted']} failed)")
    for w in bench["workloads"]:
        name = w["name"]
        r = run(name, 0, "--corrupt", "1")
        expect(not r["correct"] and r["failed"] >= 1,
               f"{name}: a corrupted expected answer is reported ({r['failed']} failed)")
    if FAILED:
        raise SystemExit(f"{len(FAILED)} check(s) failed")


if __name__ == "__main__":
    main()
