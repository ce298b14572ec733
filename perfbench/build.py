"""Build file of the benchmark: compiles the repository's main Scala sources
together with the benchmark's own sources (perfbench/src) into one class
directory, without touching the repository's sbt build.

The output lives under `.bench_build/` at the checkout root, in a directory
named after a hash of every input source, so a changed source gives a fresh
build and an unchanged one is reused. The compiler is the scala-compiler jar
that ships in the Spark distribution the repository builds against.

Run as `python3 perfbench/build.py` to build and print the class directory.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
OUT_BASE = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError("missing the repository sources: %s" % MAIN_SRC)
    found = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not found or not bench:
        raise BuildError("no Scala sources to build")
    return found + bench


def resources():
    if not os.path.isdir(MAIN_RES):
        return []
    return sorted(p for p in glob.glob(os.path.join(MAIN_RES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def source_hash(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (class dir, spark jar dir); compiles when the sources changed."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    out = os.path.join(OUT_BASE, "classes-" + source_hash(srcs + res))
    done = os.path.join(out, ".complete")
    os.makedirs(OUT_BASE, exist_ok=True)
    with open(os.path.join(OUT_BASE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return out, jars
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala_jars = [os.path.join(jars, "scala-%s-2.13.17.jar" % n)
                      for n in ("compiler", "library", "reflect")]
        scala_jars = [j if os.path.exists(j) else _find(jars, j) for j in scala_jars]
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w", encoding="utf-8") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(scala_jars), "scala.tools.nsc.Main",
               "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp, "@" + argfile]
        print("[perfbench] compiling %d sources into %s" % (len(srcs), out), file=log)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])
        os.remove(argfile)
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, MAIN_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        # drop builds of older source trees; each holds a full class tree
        for old in glob.glob(os.path.join(OUT_BASE, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
        open(done, "w").close()
        return out, jars


def _find(jars, wanted):
    """The scala jar of the same kind under another 2.13 patch version."""
    kind = os.path.basename(wanted).split("-")[1]
    hits = sorted(glob.glob(os.path.join(jars, "scala-%s-2.13.*.jar" % kind)))
    if not hits:
        raise BuildError("no scala-%s jar in %s" % (kind, jars))
    return hits[-1]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
