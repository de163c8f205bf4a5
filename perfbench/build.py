#!/usr/bin/env python3
"""Build the benchmark harness: compile the program's main sources, then the
harness under perfbench/src, with the Scala compiler that ships in the Spark
distribution. Output goes to .bench_build/ at the repository root and is
reused while no source file changes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def classpath(jars):
    return [os.path.join(BUILD, "classes", "bench"), os.path.join(BUILD, "classes", "main"),
            os.path.join(jars, "*")]


def scalac(jars, out, srcs, extra_cp=()):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-cp", os.pathsep.join(extra_cp)]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compilation failed for {out}")


def build():
    """Compile if any source changed since the last build; return the
    runtime classpath entries."""
    main, bench = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main:
        sys.exit(f"perfbench: no program sources under {MAIN_SRC}")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(jars)
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    sys.stderr.write("perfbench: compiling program and harness\n")
    scalac(jars, os.path.join(BUILD, "classes", "main"), main)
    scalac(jars, os.path.join(BUILD, "classes", "bench"), bench,
           [os.path.join(BUILD, "classes", "main")])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    build()
