#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark driver (perfbench/src) into one class directory with the
Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py            # prints the class directory

The class directory lives under $CARGO_TARGET_DIR (default .bench_build)
and carries a stamp of every source file's path, size and mtime, so an
unchanged tree is not compiled twice. Exits non-zero when the engine
sources or the Spark jars are missing.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repository's build.sbt compiles
    against."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars") if os.environ.get("SPARK_HOME") else ""
    if not os.path.isdir(jars):
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.isfile(
            os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("build: no Spark jars (set SPARK_HOME)")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{os.path.relpath(s, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def classpath():
    return build() + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
