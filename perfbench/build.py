#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the JVM harness (`perfbench/harness`)
into `.bench_build/classes` with the Scala compiler that ships in the
Spark distribution's jars. A stamp of the source contents skips the
compile when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HARNESS = os.path.join(BENCH, "harness")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources() -> list:
    out = []
    for top in (PROGRAM, HARNESS):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath() -> str:
    return os.pathsep.join([os.path.join(spark_jars(), "*"), CLASSES])


def build(log=sys.stderr) -> None:
    """Compile if the sources changed since the last build; raise on failure."""
    if not os.path.isdir(PROGRAM):
        raise RuntimeError(f"program sources not found at {PROGRAM}")
    if not os.path.isdir(spark_jars()):
        raise RuntimeError(f"Spark jars not found at {spark_jars()}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", tmp, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
