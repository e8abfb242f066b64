"""Build file of the graft benchmark.

Compiles the engine (``src/main/scala``) and the benchmark's own Scala
code (``graftbench/src``) with the Scala compiler that ships in Spark's jar
directory, into ``.bench_build/classes`` under the checkout root. No build
tool, no dependency resolution: the only inputs are the sources and
``$SPARK_HOME/jars``. A stamp over every source file's path and bytes makes
repeated runs skip the compile.

    python3 graftbench/build.py          # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "graftbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark jars: set SPARK_HOME to a Spark 4 install")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources missing: no src/main/scala under " + ROOT)
    if not bench:
        raise BuildError("benchmark sources missing under graftbench/src")
    return engine + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; return the classpath."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == stamp:
        return classpath(jars)
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    compiler = [c for c in compiler if os.path.exists(c)] or \
        sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
               glob.glob(os.path.join(jars, "scala-library-*.jar")) +
               glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    if not any("scala-compiler" in c for c in compiler):
        raise BuildError("no scala-compiler jar in " + jars)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath(jars)


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
