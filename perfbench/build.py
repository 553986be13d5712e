#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (`src/main/scala`) together with the
harness (`perfbench/src`) into one class directory, with the Scala
compiler that ships among Spark's own jars. No sbt: a build reads only
the checkout and the Spark install, and writes only under
`.bench_build/perfbench` in the checkout.

The build is keyed by a digest of every input file, so an unchanged tree
reuses the classes and an edited one rebuilds from scratch.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: no graft sources under {main}")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    jars = spark_jars()
    compiler = [f for f in os.listdir(jars) if f.startswith("scala-compiler")]
    if not compiler:
        raise SystemExit(f"build: no scala-compiler jar in {jars}")
    srcs = sources()
    h = hashlib.sha256(("|".join(sorted(compiler)) + "\n").encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        h.update(open(f, "rb").read())
    key = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.key")
    if os.path.isfile(stamp) and open(stamp).read() == key and os.path.isdir(classes):
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-cp", cp, "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes, jars


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build()[0])
