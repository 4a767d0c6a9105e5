"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`,
package `graft.perfbench`, so it reaches `private[graft]` entry points)
with the Scala compiler that ships in Spark's jars.

Output goes to `.bench_build/classes` at the checkout root; a stamp of
every source file's path and content skips the build when nothing changed.

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """The jars of the Spark installation `$SPARK_HOME` names: they hold the
    Scala compiler and every library the program needs."""
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark installation")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def current_stamp():
    with open(STAMP) as f:
        return f.read()


def ensure_built():
    """Compile unless the stamp matches; returns the classes dir."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) "
                         "are not in this checkout")
    files = sources()
    want = stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
