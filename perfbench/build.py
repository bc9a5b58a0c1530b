#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/scala)
with the Scala compiler that ships in the Spark jars directory the
project's sbt build compiles against (build.sbt's unmanagedBase).

Output goes to $CARGO_TARGET_DIR (or .bench_build) under the current
directory. A stamp of every source file's hash skips the compile when
nothing changed. Exits non-zero when the sources or the toolchain are
missing.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def _spark_jars():
    """The jars directory the sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = _spark_jars()


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("build: no program sources under src/main/scala")
    return srcs + sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))


def classpath():
    """Directory of compiled classes, after building it if stale."""
    out = build_dir()
    classes = os.path.join(out, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: no Spark jars at {SPARK_JARS}")
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(os.path.abspath(s) for s in srcs))
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-classpath", jars, "-d", staging,
           "-nowarn", "-Ybackend-parallelism", "4", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(classpath())
