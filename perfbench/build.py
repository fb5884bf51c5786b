#!/usr/bin/env python3
"""Compile graft's main sources together with the benchmark program.

    python3 perfbench/build.py

The Scala compiler comes from the Spark distribution graft builds
against (`$SPARK_HOME/jars`, else the `unmanagedBase` that build.sbt
names), so no build tool or network is needed. Classes land in
`.bench_build/classes-<source hash>`; an unchanged tree is not rebuilt.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark (and Scala) jars graft compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise BuildError(f"graft sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(quiet=True):
    """Return the classes directory for the current sources, compiling
    them first if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()[:16]
    dest = os.path.join(BUILD_DIR, f"classes-{stamp}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    # one build at a time: a second invocation waits, then reuses it
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(dest, ".complete")):
            compile_into(dest, jars, files, quiet)
    return dest, stamp


def compile_into(dest, jars, files, quiet):
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    work = dest + ".partial"
    os.makedirs(work)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", work, "-classpath", cp] + files
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if out.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        raise BuildError("scalac failed:\n" + out.stdout[-4000:])
    if not quiet:
        sys.stderr.write(out.stdout)
    open(os.path.join(work, ".complete"), "w").close()
    os.rename(work, dest)


if __name__ == "__main__":
    try:
        print(build(quiet=False)[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
