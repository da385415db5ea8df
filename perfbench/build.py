#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) with the Scala compiler that ships in the Spark
distribution, into ``.bench_build/classes``. A stamp keyed on the hash of
every source file and of the compiler classpath makes repeat builds of the
same tree a no-op. Nothing outside the checkout is written.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME, else the first
    distribution on the PATH (a bin/spark-submit next to a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(j.encode())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    fp = fingerprint(srcs, jars)
    classpath = [CLASSES] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-classpath\n" + ":".join(jars) + "\n")
        f.write("-d\n" + CLASSES + "\n")
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, cwd=ROOT, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(fp)
    return classpath


if __name__ == "__main__":
    build()
