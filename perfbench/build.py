"""Build file of the benchmark: compiles the library (``src/main/scala``)
and the benchmark program (``perfbench/src``) with the Scala compiler that
ships in the Spark distribution, into ``<root>/.bench_build/classes``.

The build is skipped when a stamp over every source file, the compiler
classpath and this file matches the last successful build.

Usage: python3 perfbench/build.py [root]
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_home():
    """$SPARK_HOME, else the first Spark installation on the PATH; either
    must ship the Scala compiler among its jars."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("no Spark installation with a Scala compiler: set SPARK_HOME")


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise SystemExit(f"no library sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    return lib, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(str(sorted(os.listdir(os.path.join(spark_home(), "jars")))).encode())
    return h.hexdigest()


def scalac(out, classpath, files):
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
           "-d", out, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)


def build(root):
    """Compile if needed; return the classpath to run the benchmark with."""
    lib, bench = sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = out + ".stamp"
    want = stamp(lib + bench)
    jars = spark_jars()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        scalac(out, jars, lib)
        scalac(out, out + os.pathsep + jars, bench)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return out + os.pathsep + jars


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
