#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together
with the benchmark's own JVM sources (perfbench/src) using the Scala
compiler that ships in the Spark distribution, so the build needs no
dependency resolution and writes only under .bench_build/.

The output directory is keyed by a fingerprint of every source file, so a
checkout builds once and later runs reuse the classes.

Usage: python3 perfbench/build.py   (prints the classpath to use)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars under {home}")
    return jars


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "perfbench", "classes-" + h.hexdigest()[:16])
    stamp = os.path.join(out, ".complete")
    if not os.path.exists(stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cp = os.path.join(jars, "*")
        argfile = os.path.join(out, ".sources")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
        if r.returncode != 0:
            raise SystemExit("perfbench: build failed")
        if os.path.isdir(res):
            shutil.copytree(res, out, dirs_exist_ok=True)
        open(stamp, "w").close()
    return out + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
