#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout (and any run after the engine or benchmark
sources change) builds both with sbt and records the runtime classpath in
perfbench/target/launch.json; later runs start the JVM directly. Exits
non-zero, printing no result, when the engine sources are absent, the
build fails or the run produces no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("polling_stream", "inventory_mixed", "curation_ann")
HEAP = ["-Xms2g", "-Xmx3g"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def sources():
    """Every file whose change means a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(top):
            files += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        code = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                              cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if code != 0 or not os.path.exists(LAUNCH):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the engine sources (build.sbt, src/main/scala) are not here")

    stamp = source_hash()
    if not (os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp):
        build(stamp)
    spec = json.load(open(LAUNCH))

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *spec["java_options"],
           f"-Dperfbench.oracle={os.path.join(BENCH, 'oracle.py')}",
           "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work-dir", work]
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: run timed out")
        lines = [l for l in out.splitlines() if l.strip()]
        result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
        if proc.returncode != 0 or result is None:
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            sys.exit(f"perfbench: run failed (exit {proc.returncode})")
        if a.trace == "1":
            traces = os.path.join(BENCH, ".work", "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("spans-"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
        for l in lines:
            if l is not result:
                print(l)
        print(result)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
