"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into .bench_build/classes, with the Scala
compiler and the jars that ship with Spark ($SPARK_HOME/jars). Offline; no
dependency is fetched.

    python3 perfbench/build.py        # from the repository root

The build is skipped when the sources are unchanged since the last one."""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: graft sources not found at src/main/scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return found


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def stamp(files):
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles unless the classes are up to date; returns the sources' stamp."""
    srcs = sources()
    res = resources()
    want = stamp(srcs + res)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return want
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"{j}-2.13.17.jar")
                               for j in ("scala-compiler", "scala-library", "scala-reflect"))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    done = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if done.returncode != 0:
        raise SystemExit("build: scalac failed")
    base = os.path.join(ROOT, "src", "main", "resources")
    for r in res:
        dst = os.path.join(CLASSES, os.path.relpath(r, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.copyfile(os.path.join(BENCH, "log4j2.properties"),
                    os.path.join(CLASSES, "log4j2.properties"))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return want


if __name__ == "__main__":
    build()
