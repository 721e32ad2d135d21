#!/usr/bin/env python3
"""A/B the served-cube benchmark: a base commit against the working tree.

    python3 tools/perf_pairs.py --base-dir DIR [--base HEAD] \
        --workload mixed_writes --seeds 921-930 [--seconds 20] [--out pairs.json]

Exports the base commit (`git archive`) into DIR, once, then runs
`perfbench/run.py` on both trees for each seed, alternating which side runs
first. For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles and how many of the pairs the working tree won.
Run it from the repository root on an otherwise idle host.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def export(rev, dest):
    sha = subprocess.run(["git", "rev-parse", rev], check=True, text=True,
                         stdout=subprocess.PIPE).stdout.strip()
    stamp = os.path.join(dest, ".perf_pairs_rev")
    if os.path.isfile(stamp) and open(stamp).read() == sha:
        return sha
    os.makedirs(dest, exist_ok=True)
    tar = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=tar.stdout, check=True)
    tar.wait()
    open(stamp, "w").write(sha)
    return sha


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    last = p.stdout.strip().splitlines()[-1:] or ["{}"]
    res = json.loads(last[0]) if p.returncode == 0 and last[0].startswith("{") else {}
    if not res.get("correct"):
        print(f"  {tree} seed {seed}: failed run (exit {p.returncode})\n" +
              "\n".join((p.stdout + p.stderr).splitlines()[-15:]), file=sys.stderr)
    return {k: v["value"] for k, v in res.get("metrics", {}).items()}


def main():
    ap = argparse.ArgumentParser()
    for flag, dflt in [("--base", "HEAD"), ("--base-dir", None), ("--workload", None),
                       ("--seeds", "921-930"), ("--seconds", "20"), ("--out", None)]:
        ap.add_argument(flag, default=dflt, required=flag in ("--base-dir", "--workload"))
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    sha = export(a.base, a.base_dir)
    trees = {"base": os.path.abspath(a.base_dir), "change": os.getcwd()}
    pairs = []
    for i, seed in enumerate(seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {side: run(trees[side], a.workload, seed, a.seconds) for side in order}
        pairs.append({"seed": seed, "first": order[0], **pair})
        print(f"seed {seed}: " + "  ".join(f"{s} {pair[s].get('throughput_ops_s', float('nan')):.2f}/s"
                                           for s in order), flush=True)
    if a.out:
        json.dump({"base": sha, "workload": a.workload, "pairs": pairs}, open(a.out, "w"), indent=1)
    metrics = json.load(open("BENCHMARK.json"))["end_to_end"]
    print(f"\n{a.workload}, base {sha[:10]} vs working tree, {len(pairs)} pairs")
    print(f"{'metric':20} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} wins")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        ok = [p for p in pairs if name in p["base"] and name in p["change"]]
        if len(ok) < 2:
            print(f"{name:20} too few complete pairs"); continue
        cols = []
        for side in ("base", "change"):
            q1, med, q3 = statistics.quantiles([p[side][name] for p in ok], n=4, method="inclusive")
            cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        wins = sum((p["change"][name] > p["base"][name]) == higher
                   and p["change"][name] != p["base"][name] for p in ok)
        print(f"{name:20} {cols[0]:>30} {cols[1]:>30} {wins}/{len(ok)}")


if __name__ == "__main__":
    main()
