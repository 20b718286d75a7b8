#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, into `perfbench/.build/classes`.

The build is skipped when a stamp over every input file still matches, so
only the first run in a checkout pays it.

    python3 perfbench/build.py            # from the checkout root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the directory
    the program's own build.sbt takes its unmanaged jars from."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(
            "perfbench: no program sources at src/main/scala; "
            "run from the root of a full checkout")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if the inputs changed; return the runtime classpath."""
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
