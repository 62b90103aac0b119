"""Build the benchmark: compile the library sources (`src/main/scala`) together
with the benchmark's own stream program (`perfbench/src`) using the Scala
compiler that ships with Spark, into `.bench_build/classes`. A content stamp makes a
rebuild happen only when a source changes.

Run from the repository root: `python3 perfbench/build.py`.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")

def spark_classpath():
    """The Spark jars the sbt build compiles against (its `unmanagedBase`)."""
    with open("build.sbt") as fh:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not found:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(found.group(1), "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {found.group(1)}")
    return os.pathsep.join(jars)


def sources():
    files = []
    for d in SOURCE_DIRS + [RESOURCES]:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing {d}; run from the repository root")
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    want = stamp(files)
    cp = spark_classpath()
    runtime_cp = os.path.abspath(CLASSES) + os.pathsep + cp
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return runtime_cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    scala = [f for f in files if f.endswith(".scala")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp] + scala
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return runtime_cp


if __name__ == "__main__":
    ensure_built()
    print("built", CLASSES)
