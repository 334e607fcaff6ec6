#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark
distribution, and packs the classes into .bench_build/perfbench/perfbench.jar.
The repository's own sbt build is not used or touched.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when a stamp of every source file's content matches
the last successful build. A rebuild also deletes the JVM class-data archive
(ARCHIVE) that perfbench/run.py makes from the new jar on its first run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
# Class-data sharing needs every application class in a jar, not a directory.
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from the root of a full checkout")
    return engine + sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
