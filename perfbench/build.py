"""Builds the program and the benchmark from source.

The repository's main sources (`src/main/scala`) and the benchmark's own
(`perfbench/src`) compile together with the Scala compiler that ships
with Spark, into `.bench_build/classes`. A stamp of every source file
skips the build when nothing changed. Usage: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
OUT = os.path.join(ROOT, ".bench_build")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds if needed; returns the runtime classpath."""
    files = _sources()
    stamp = _stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        proc = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", SPARK_JARS, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=880)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([classes, RESOURCES, SPARK_JARS])


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
