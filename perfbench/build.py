"""Build file of graft's benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (perfbench/src) using the Scala compiler that ships in the Spark
jars, into .bench_build/perfbench/classes. A content stamp over every
source skips the compile when nothing changed.

    python3 perfbench/build.py
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
CLASSES = os.path.join(OUT, "classes")
SCALAC_FLAGS = ["-nowarn"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's `unmanagedBase` names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    found = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: source directory {os.path.relpath(r, ROOT)} is missing")
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(OUT, "STAMP")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return CLASSES
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", tmp, "-cp", jars, *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
