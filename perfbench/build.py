#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's library sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) into `<build dir>/classes`.

The compiler is the Scala compiler that ships in the Spark distribution's
jar directory (`$SPARK_HOME/jars`; without SPARK_HOME, the Spark install
that `spark-submit` on PATH belongs to), which also
supplies the compile and run classpath, so the build needs no package
download. The build is skipped when the sources and the jar set are
unchanged since the last successful build.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]


def has_compiler(jars):
    return os.path.isdir(jars) and any(
        j.startswith("scala-compiler") for j in os.listdir(jars))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install whose
    `bin/spark-submit` is on PATH and that ships the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if has_compiler(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def build(build_dir):
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".stamp")
    fp = fingerprint(srcs, jars)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = shutil.which("java") or "java"
    cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(fp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    print(build(os.path.abspath(d)))
