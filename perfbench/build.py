"""Build file of the benchmark: compiles the engine's sources (src/main/scala
of the checkout) together with the benchmark's own (perfbench/src) using the
Scala compiler that ships with the Spark distribution, into
perfbench/.build/classes. A stamp of every input's path, size and content
hash skips the build when nothing changed.

    python3 perfbench/build.py          # build if needed, print the classpath
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
OUT = os.path.join(BENCH, ".build")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the repository's
    build.sbt takes its unmanaged jars from."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    found = []
    for base in (engine, os.path.join(BENCH, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for dirpath, _, files in os.walk(res):
        out += [os.path.join(dirpath, f) for f in files]
    return res, sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first when an input changed."""
    jars = spark_jars()
    srcs = sources()
    res_root, res = resources()
    classes = os.path.join(OUT, "classes")
    want = stamp(srcs + res)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes + os.pathsep + jars
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(build())
