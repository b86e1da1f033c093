"""Build file of the benchmark: compiles the engine's sources (../src/main/scala)
together with the benchmark's own (src/main/scala, and src/test/scala for the
self-test) with the Scala compiler that ships in the Spark distribution's jars.

The output is <checkout>/.bench_build/perfbench/perfbench-<hash of every
source>.jar, so an unchanged tree compiles once and a changed one compiles
afresh (into a new jar: a JVM still running on the old one keeps it).

    python3 perfbench/build.py          # compile, print the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import zipfile
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    installation that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"perfbench: engine sources missing under {ENGINE_SRC}")
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return engine + own


def build():
    """Compile (once per source tree) into a jar and return its path."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(out):
        return out
    classes = out + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, f"scala-{m}-2.13.17.jar")
                for m in ("compiler", "library", "reflect")]
    compiler = [j for j in compiler if os.path.exists(j)] or glob.glob(
        os.path.join(jars, "scala-*.jar"))
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # a jar, not a class directory: the JVM's class-data sharing archive
    # (see run.py) only covers classes loaded from jars
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(out + ".tmp", out)
    shutil.rmtree(classes, ignore_errors=True)
    return out


def classpath(jar):
    """The benchmark jar, then every Spark jar, listed explicitly in a fixed
    order (the sharing archive must see the same class path every run)."""
    return [jar] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


if __name__ == "__main__":
    print(build())
