#!/usr/bin/env python3
"""A/B the served-cube benchmark: a base commit against the working tree.

    python3 tools/perf_pairs.py --base-dir DIR [--base HEAD] \
        --workload mixed_writes --seeds 921-930 [--seconds 20] [--trace 1] [--out pairs.json]

Exports the base commit (`git archive`) into DIR, once, then runs
`perfbench/run.py` on both trees for each seed, alternating which side runs
first. For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles and how many of the pairs the working tree won, then
each side's median of the per-route p50 lines (`cell_p50_ms`, `view_p50_ms`,
`query_p50_ms`, `write_p50_ms`) that `perfbench/run.py` prints, so a
change can name the route it moved.
With `--trace 1` each run traces its layers (`perfbench/run.py --trace 1`),
and each side's median of every per-layer metric of BENCHMARK.json is
printed too. perfbench's in-process replay answers a dialect query with
`execute().limit().collect()`, not with the REST route's rendering, so a
change to the route shows in `query_p50_ms` and `server.overhead_ms`, not
in `olap.query_exec_ms`.
A run that fails or is not `correct` is counted per side in the summary,
left out of every pair it belongs to, and makes the script exit 1.
Run it from the repository root on an otherwise idle host.
"""
import argparse
import json
import os
import re
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


ROUTES = ("cell", "view", "query", "write")
ROUTE_P50 = re.compile(r"^perfbench: (" + "|".join(ROUTES) + r")_p50_ms ([0-9.]+) ms")


def run(tree, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
                       cwd=tree, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    last = p.stdout.strip().splitlines()[-1:] or ["{}"]
    res = json.loads(last[0]) if p.returncode == 0 and last[0].startswith("{") else {}
    if not res.get("correct"):
        print(f"  {tree} seed {seed}: failed run (exit {p.returncode})\n" +
              "\n".join((p.stdout + p.stderr).splitlines()[-15:]), file=sys.stderr)
        return None
    got = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    for line in p.stdout.splitlines():
        m = ROUTE_P50.match(line)
        if m:
            got[f"{m.group(1)}_p50_ms"] = float(m.group(2))
    return got


def main():
    ap = argparse.ArgumentParser()
    for flag, dflt in [("--base", "HEAD"), ("--base-dir", None), ("--workload", None),
                       ("--seeds", "921-930"), ("--seconds", "20"), ("--trace", "0"),
                       ("--out", None)]:
        ap.add_argument(flag, default=dflt, required=flag in ("--base-dir", "--workload"))
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    sha = export(a.base, a.base_dir)
    trees = {"base": os.path.abspath(a.base_dir), "change": os.getcwd()}
    pairs = []
    for i, seed in enumerate(seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {side: run(trees[side], a.workload, seed, a.seconds, a.trace) for side in order}
        pairs.append({"seed": seed, "first": order[0], **pair})
        print(f"seed {seed}: " + "  ".join(
            f"{s} {pair[s].get('throughput_ops_s', float('nan')):.2f}/s" if pair[s] is not None
            else f"{s} FAILED"
            for s in order), flush=True)
    if a.out:
        json.dump({"base": sha, "workload": a.workload, "pairs": pairs}, open(a.out, "w"), indent=1)
    bench = json.load(open("BENCHMARK.json"))
    metrics = bench["end_to_end"]
    failed = {side: sum(p[side] is None for p in pairs) for side in ("base", "change")}
    pairs = [p for p in pairs if p["base"] is not None and p["change"] is not None]
    print(f"\n{a.workload}, base {sha[:10]} vs working tree, {len(pairs)} complete pairs; "
          f"failed runs: base {failed['base']}, change {failed['change']}")
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
    routes = [f"{r}_p50_ms" for r in ROUTES if any(f"{r}_p50_ms" in p["base"] for p in pairs)]
    if routes:
        print(f"\n{'route p50':20} {'base median':>30} {'change median':>30}")
        for name in routes:
            cols = [statistics.median(vs) if (vs := [p[side][name] for p in pairs if name in p[side]])
                    else float("nan") for side in ("base", "change")]
            print(f"{name:20} {cols[0]:>30.4g} {cols[1]:>30.4g}")
    layers = [m["name"] for m in bench["per_layer"] if any(m["name"] in p["base"] for p in pairs)]
    if layers:
        print(f"\n{'per-layer median':32} {'base':>18} {'change':>18}")
        for name in layers:
            cols = [statistics.median(vs) if (vs := [p[side][name] for p in pairs if name in p[side]])
                    else float("nan") for side in ("base", "change")]
            print(f"{name:32} {cols[0]:>18.4g} {cols[1]:>18.4g}")
    if any(failed.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
