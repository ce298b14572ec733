#!/usr/bin/env python3
"""KG-build benchmark: one command, four workloads (two in BENCHMARK.json), two modes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark from source into `.bench_build/` (see build.py). Each run starts one
JVM that sets up the workload's inputs from the seed, warms up, runs
operations in a closed loop for the given seconds, checks every output
against an independent oracle, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones.

`--selftest` runs every workload at a tiny size with all checks, then feeds
each check one corrupted output and fails unless the check rejects it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["kg_batch", "kg_lexicon", "kg_resume", "dedup_near"]
HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, jars, work, main, args, timeout):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, err = proc.communicate()
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        raise SystemExit("[perfbench] run exceeded %d s" % timeout)
    errs = err.decode(errors="replace")
    if proc.returncode != 0:
        sys.stderr.write(errs[-6000:])
    else:
        sys.stderr.write("".join(l + "\n" for l in errs.splitlines() if l.startswith("[perfbench]")))
    return proc.returncode, out.decode(errors="replace").splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2

    # per build: the kg_resume history is written by the program's own code
    cache = os.path.join(build.OUT_BASE, "cache", os.path.basename(classes))
    tag = "selftest" if a.selftest else "%s-%d-%d" % (a.workload, a.seed, os.getpid())
    work = os.path.join(build.OUT_BASE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, lines = jvm(classes, jars, work, "perfbench.SelfTest",
                              ["--work", work, "--cache", os.path.join(work, "cache")], 900)
            for l in lines:
                print(l)
            return code
        code, lines = jvm(classes, jars, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cache", cache],
            RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for l in lines:
        if l.startswith("PERFBENCH_RESULT "):
            result = json.loads(l[len("PERFBENCH_RESULT "):])
        else:
            print(l)
    if code != 0 or result is None:
        print("[perfbench] run failed (exit %d)" % code, file=sys.stderr)
        return code or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
