"""Builds the benchmark: the engine's sources (`src/main/scala` at the repo
root) and the harness (`perfbench/src`) compiled together with the Scala
compiler that ships with the Spark distribution the engine builds against.

    python3 perfbench/build.py            # from the repo root

Classes go to `.bench_build/classes`; a stamp of the sources' content skips
the compile when nothing changed. Prints the runtime classpath.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the root
    build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return cp
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*", "@" + argfile])
    if r.returncode != 0:
        sys.exit("build: compile failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
