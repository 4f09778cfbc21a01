#!/usr/bin/env python3
"""Build file of the flow benchmark: compiles graft's main sources and
the harness in flowbench/src with the Scala compiler that ships in
Spark's jars, into .bench_build/classes-<source hash>. A build is reused
while no source changes. The jars are the ones graft's own build.sbt
names as its `unmanagedBase` (else $SPARK_HOME/jars).

Usage: python3 flowbench/build.py    (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()


class BuildError(Exception):
    pass


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError("graft sources not found under src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def ensure():
    """Return (classes dir, whether this call compiled it)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, False
    if not os.path.isdir(SPARK_JARS):
        raise BuildError("Spark jars not found at " + SPARK_JARS)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    open(os.path.join(classes, ".ok"), "w").close()
    return classes, True


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
