#!/usr/bin/env python3
"""Benchmark of the maintained TPC-H Q10 view and the recursive fixpoint.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke] [--break-view]

Run from the root of a checkout. The first run builds the engine from
the checkout's sources (sbt, into perfbench/target) and generates the
tables (perfbench/target/work/data); later runs reuse both until a
source file changes. Each run is one JVM at local[nproc]; the last line
of standard output is the result JSON. `--workload all` runs every
workload untraced and traced and prints a summary instead.

`--smoke` runs every workload at scale factor 0.001 with a few ops;
`--break-view` corrupts the view before the correctness check, which
must then fail (both are for test_smoke.py).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

WORKLOADS = ["q10_bulk", "q10_stream_leaf", "q10_stream_fanout", "recursive_paths"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    log("building engine and benchmark with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def run_one(classpath, args, extra):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    cmd = [java, "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", WORK, *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {args.workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        # the JVM removes its scratch directory unless it was killed
        shutil.rmtree(os.path.join(WORK, f"run-{proc.pid}"), ignore_errors=True)
    lines = out.strip().splitlines()
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr)
    return proc.returncode, result


def run_all(classpath, args, extra):
    """Every workload, untraced then traced, as one summary."""
    failed = False
    for w in WORKLOADS:
        rows = {}
        for trace in (0, 1):
            a = argparse.Namespace(**dict(vars(args), workload=w, trace=trace))
            code, result = run_one(classpath, a, extra)
            if code != 0 or result is None:
                failed = True
                log(f"{w} trace={trace}: exit {code}")
            if result:
                rows[trace] = json.loads(result)
        print(f"== {w} (seed {args.seed}, {args.seconds} s)")
        for trace, r in sorted(rows.items()):
            print(f"  trace={trace} correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}")
            for name, m in r["metrics"].items():
                print(f"    {name:34s} {m['value']:>16.6g} {m['unit']}")
    return 1 if failed else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--break-view", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: no engine sources at {os.path.relpath(ENGINE_SRC)}; "
                         "run from the root of a full checkout")
    extra = (["--smoke"] if args.smoke else []) + (["--break-view"] if args.break_view else [])
    classpath = build()
    if args.workload == "all":
        return run_all(classpath, args, extra)
    code, result = run_one(classpath, args, extra)
    if result is not None:
        print(result, flush=True)
    return code if code != 0 or result is not None else 1


if __name__ == "__main__":
    sys.exit(main())
