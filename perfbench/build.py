#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

The program (src/main/scala) and the benchmark (perfbench/src) are compiled
with the Scala 2.13 compiler that ships in the Spark distribution, straight
into the build directory. The jars are those of $SPARK_HOME/jars, or else of
the directory build.sbt names as its unmanagedBase. The repository's own sbt
build is neither used nor touched. A stamp over every source file and
the toolchain skips the compile when nothing changed.

    python3 perfbench/build.py            # prints the benchmark classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def _spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _stamp(jars, files):
    h = hashlib.sha256()
    for tool in sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.basename(tool).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, out_dir, classpath, files):
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out_dir] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise BuildError(f"scalac failed ({res.returncode}) for {out_dir}")


def build():
    """Compile when stale; return the runtime classpath."""
    program = _sources("src/main/scala")
    bench = _sources("perfbench/src")
    if not program:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    jars = _spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    prog_dir = os.path.join(BUILD_DIR, "program")
    bench_dir = os.path.join(BUILD_DIR, "bench")
    spark_cp = os.path.join(jars, "*")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = _stamp(jars, program + bench)
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        for d in (prog_dir, bench_dir):
            shutil.rmtree(d, ignore_errors=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        _scalac(jars, prog_dir, spark_cp, program)
        _scalac(jars, bench_dir, os.pathsep.join([prog_dir, spark_cp]), bench)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([bench_dir, prog_dir, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        sys.exit(2)
