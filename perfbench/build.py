#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the program (src/main/scala, as build.sbt does) together with
the benchmark harness (perfbench/src) into one classes directory, with
the Scala compiler that ships among the jars build.sbt's unmanagedBase
names. A stamp of the source tree's contents skips the build when
nothing changed.

Usage: build.py   (builds into .bench_build/perfbench)
Prints the classpath to run with.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def jar_dir():
    """The jar directory build.sbt's `unmanagedBase` names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**"),
                                      recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(out):
    if not os.path.isdir(SOURCES[0]):
        raise SystemExit(f"no program sources under {SOURCES[0]}")
    jar_base = jar_dir()
    if not glob.glob(os.path.join(jar_base, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the jars in {jar_base}")
    files = sources()
    classes = os.path.join(out, "classes")
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jar_base, "*")
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(jar_base, "*.jar"))))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    # no perf-data file, and temp files inside the build directory
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", classes,
           "-classpath", jars, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build(OUT) + os.pathsep + os.path.join(jar_dir(), "*"))
