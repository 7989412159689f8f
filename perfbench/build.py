"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`),
into `.bench_build/classes`. A stamp of the sources skips the compile when
nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    jars = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root="."):
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        sys.exit("perfbench: the program's sources (src/main/scala) are missing")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jars = spark_jars()
    h.update("\n".join(jars).encode())
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
               "-d", classes] + srcs
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("perfbench: compile failed")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    build()
