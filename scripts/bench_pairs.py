#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

Usage (from any directory):
  python3 scripts/bench_pairs.py --parent <dir> --change <dir> \\
      --workload polling_stream --seeds 7-13

Each seed is one pair: both checkouts run `perfbench/run.py` on that seed
for the benchmark's `run_seconds`, untraced, and the side that runs first
alternates from pair to pair (the host drifts over minutes). Each run's
result line is printed as it lands. The summary gives, for every
end-to-end metric in BENCHMARK.json, each side's median and quartiles,
the change/parent ratio of the medians, how many pairs the change won,
and a flag:
  WORSE  the change's median is worse than the parent's by more than
         the metric's bound;
  GAIN   the change won at least nine tenths of the pairs and the medians
         differ by more than the parent's interquartile range.
The bounds come from the change's BENCHMARK.json, which is only read.
Both checkouts build on their first run (perfbench/run.py does that).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    line = next((l for l in reversed(p.stdout.splitlines()) if l.startswith('{"correct"')), None)
    if p.returncode != 0 or line is None:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"bench_pairs: run failed in {tree} (seed {seed}, exit {p.returncode})")
    return json.loads(line)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 7-13 or 7,9,11")
    a = ap.parse_args()
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(trees[side], a.workload, seed, bench["run_seconds"])
            runs[side].append(r)
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                            for m in metrics if m["name"] in r["metrics"])
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    n = len(runs["parent"])
    print(f"\n{a.workload}: {n} pairs")
    print(f"{'metric':<18} {'parent median [q1, q3]':<32} {'change median [q1, q3]':<32} "
          f"{'ratio':>6} {'wins':>6}  flag")
    summary = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        if not all(name in r["metrics"] for side in runs.values() for r in side):
            continue
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        ratio = cm / pm if pm else float("nan")
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        worse = ratio > 1 + m["bound"] if lower else ratio < 1 - m["bound"]
        gain = wins >= 0.9 * n and abs(cm - pm) > p3 - p1
        flag = "WORSE" if worse else "GAIN" if gain else ""
        summary[name] = {"parent": p, "change": c, "ratio": ratio, "wins": wins, "flag": flag}
        print(f"{name:<18} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':<32} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':<32} {ratio:>6.3f} {wins:>3}/{n}  {flag}")
    print(json.dumps({"workload": a.workload, "pairs": n, "metrics": summary}))


if __name__ == "__main__":
    main()
