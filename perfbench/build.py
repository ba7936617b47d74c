"""Build file of the benchmark: compiles the repository's main Scala sources
together with the harness under perfbench/scala into one class directory,
using the Scala compiler that ships among the Spark jars. A rebuild happens
only when a source file changed.

  python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH, "scala")]


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against
    (its `unmanagedBase`); the Scala compiler ships among those jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile into `build_dir`/classes unless it is current; return it."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0] + os.sep) for s in srcs):
        raise SystemExit("perfbench: no Scala sources under %s; run from a "
                         "checkout of the repository" % SOURCE_DIRS[0])
    jar_dir = spark_jars()
    if not glob.glob(os.path.join(jar_dir, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Scala compiler in %s" % jar_dir)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    # one directory per source state: a rebuild never pulls classes from
    # under a JVM that is still loading them
    classes = os.path.join(build_dir, "classes-" + stamp)
    if os.path.exists(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(jar_dir, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                    "-classpath", jars] + srcs, check=True,
                   stdout=sys.stderr)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.path.join(ROOT, ".bench_build")))
