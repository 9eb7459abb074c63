"""Build step of the benchmark: compiles graft's main sources together with
the benchmark's own JVM sources (`perfbench/src`) into one jar, with the
Scala compiler that ships among Spark's jars. The output is keyed by a
hash of every source file, so an unchanged tree builds once per checkout.
(A jar rather than a class directory, because the JVM's class-data
sharing archive, which `run.py` adds, can only map classes from jars.)

    python3 perfbench/build.py        # prints the build directory
"""
import glob
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark home whose
    `bin/` on PATH holds `spark-submit`; it must ship the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit("build: no Spark jars with the Scala compiler (set SPARK_HOME)")


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"build: no graft sources at {GRAFT_SRC}")
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit("build: no Scala sources found")
    return files


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; return the build directory, which holds
    `bench.jar`."""
    files = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath(), "-d", classes] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with zipfile.ZipFile(os.path.join(tmp, "bench.jar"), "w") as jar:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                jar.write(f, os.path.relpath(f, classes))
    subprocess.run(["rm", "-rf", classes], check=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
