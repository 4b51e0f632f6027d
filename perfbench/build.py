#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) into one class directory with the
Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py            # prints the class directory

The output goes to .bench_build/perfbench/ under the repository root
(CARGO_TARGET_DIR, when set, names that build directory instead). A
stamp of every source file's path and content skips the compile when
nothing changed. Exits 2 when the engine sources or the Spark jars are
missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        jars = os.path.join(h, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    return None


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    engine = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return engine, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classes_dir, jars_dir, source_stamp); exits 2 when the
    inputs are missing, 1 when the compile fails."""
    engine, bench = sources()
    if not engine or not bench:
        print("perfbench: engine sources (src/main/scala) or benchmark sources missing",
              file=sys.stderr)
        sys.exit(2)
    jars = spark_jars()
    if jars is None or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        print("perfbench: no Spark distribution with a Scala compiler found "
              "(set SPARK_HOME)", file=sys.stderr)
        sys.exit(2)
    files = engine + bench
    digest = stamp(files)
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == digest:
        return classes, jars, digest
    os.makedirs(out, exist_ok=True)
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        print("perfbench: compile failed", file=sys.stderr)
        sys.exit(1)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    return classes, jars, digest


if __name__ == "__main__":
    print(build()[0])
