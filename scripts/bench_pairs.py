#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

Usage (from any directory):
  python3 scripts/bench_pairs.py --parent <dir> --change <dir> \\
      --workload polling_stream --seeds 7-13 [--trace 1]

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

--trace 1 runs perfbench traced and summarises the layers instead: for
every per-layer metric in BENCHMARK.json that the runs report, each
side's value per pair and the change/parent ratio of the medians, plus
two derived lines. `executor_cpu_us_per_row` is `spark.executor_cpu_ms`
per input row (per op over `streaming.rows_per_batch`). The task-binary
lines are the size of each stage's serialized task (the broadcast the
scheduler ships to every task, compressed), median and largest per run,
for shuffle-map and result stages apart; they come from the scheduler's
and block manager's INFO log, which a log4j2 file handed to the JVM
through JAVA_TOOL_OPTIONS routes to a scratch file (the benchmark itself
logs errors only). Build both trees before a traced set: the variable
reaches every JVM that run.py starts, a build included.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

LOG4J = """status = error
appender.file.type = File
appender.file.name = file
appender.file.fileName = {log}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %t|%c{{1}}|%m%n
appender.err.type = Console
appender.err.name = err
appender.err.target = SYSTEM_ERR
appender.err.layout.type = PatternLayout
appender.err.layout.pattern = %d %p %c{{1}}: %m%n
rootLogger.level = error
rootLogger.appenderRef.err.ref = err
logger.dag.name = org.apache.spark.scheduler.DAGScheduler
logger.dag.level = info
logger.dag.additivity = false
logger.dag.appenderRef.file.ref = file
logger.mem.name = org.apache.spark.storage.memory.MemoryStore
logger.mem.level = info
logger.mem.additivity = false
logger.mem.appenderRef.file.ref = file
"""
UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def task_binaries(log):
    """{"map": [bytes…], "result": [bytes…]}: the task binary of each stage
    the DAG scheduler submitted, in submission order. The scheduler's
    thread logs "Submitting <kind>Stage", then broadcasts the stage's
    serialized task, whose pieces the memory store logs as stored bytes."""
    sizes, kind = {"map": [], "result": []}, None
    piece = re.compile(r"Block broadcast_\d+_piece\d+ stored as bytes in memory "
                       r"\(estimated size ([\d.]+) (B|KiB|MiB|GiB)")
    for line in open(log, errors="replace"):
        msg = line.partition("|DAGScheduler|")[2]
        if msg.startswith("Submitting ShuffleMapStage"):
            kind = "map"
            sizes[kind].append(0)
        elif msg.startswith("Submitting ResultStage"):
            kind = "result"
            sizes[kind].append(0)
        elif line.startswith("dag-scheduler-event-loop|MemoryStore|") and kind:
            m = piece.search(line)
            if m:
                sizes[kind][-1] += float(m.group(1)) * UNITS[m.group(2)]
    return sizes


def run(tree, workload, seed, seconds, trace="0", scratch=None):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    env = dict(os.environ)
    if trace == "1":
        fd, log = tempfile.mkstemp(dir=scratch, suffix=".log")
        os.close(fd)
        conf = os.path.join(scratch, "log4j2.properties")
        with open(conf, "w") as fh:
            fh.write(LOG4J.format(log=log))
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -Dlog4j2.configurationFile={conf}").strip()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, env=env)
    line = next((l for l in reversed(p.stdout.splitlines()) if l.startswith('{"correct"')), None)
    if p.returncode != 0 or line is None:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"bench_pairs: run failed in {tree} (seed {seed}, exit {p.returncode})")
    r = json.loads(line)
    if trace == "1":
        sizes = task_binaries(log)
        os.remove(log)
        for kind, xs in sizes.items():
            xs = [x for x in xs if x] or [0.0]
            r["metrics"][f"task_binary_{kind}_median_kib"] = {"value": statistics.median(xs) / 1024}
            r["metrics"][f"task_binary_{kind}_max_kib"] = {"value": max(xs) / 1024}
        cpu, rows = (r["metrics"].get(k, {}).get("value") for k in
                     ("spark.executor_cpu_ms", "streaming.rows_per_batch"))
        if cpu is not None and rows:
            r["metrics"]["executor_cpu_us_per_row"] = {"value": 1000 * cpu / rows}
    return r


def layers(workload, bench, runs):
    """The --trace 1 summary: per metric, each side's value per pair."""
    n = len(runs["parent"])
    names = [m["name"] for m in bench["per_layer"]] + [
        "executor_cpu_us_per_row", "task_binary_map_median_kib", "task_binary_map_max_kib",
        "task_binary_result_median_kib", "task_binary_result_max_kib"]
    print(f"\n{workload}: {n} traced pairs (per pair: parent -> change)")
    summary = {}
    for name in names:
        if not all(name in r["metrics"] for side in runs.values() for r in side):
            continue
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        if not any(p + c):
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        ratio = cm / pm if pm else float("nan")
        summary[name] = {"parent": p, "change": c, "ratio": ratio}
        pairs = "  ".join(f"{x:.4g}->{y:.4g}" for x, y in zip(p, c))
        print(f"{name:<34} {ratio:>6.3f}  {pairs}")
    print(json.dumps({"workload": workload, "pairs": n, "trace": 1, "metrics": summary}))


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
    ap.add_argument("--trace", default="0", choices=("0", "1"),
                    help="1: traced runs, per-layer summary")
    a = ap.parse_args()
    scratch = tempfile.mkdtemp(prefix="bench_pairs_") if a.trace == "1" else None
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    shown = ([m["name"] for m in metrics] if a.trace == "0" else
             ["spark.tasks_per_op", "executor_cpu_us_per_row", "task_binary_map_max_kib"])

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(trees[side], a.workload, seed, bench["run_seconds"], a.trace, scratch)
            runs[side].append(r)
            vals = " ".join(f"{m}={r['metrics'][m]['value']:.4g}"
                            for m in shown if m in r["metrics"])
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    n = len(runs["parent"])
    if a.trace == "1":
        shutil.rmtree(scratch)
        return layers(a.workload, bench, runs)
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
