"""Build file of the benchmark: compiles the program's main sources and the
benchmark's JVM driver (perfbench/scala) with the Scala compiler that ships
in Spark's jar directory, into one classes directory.

    python3 perfbench/build.py          # from the repository root

The build is skipped when a stamp of every source file's content matches
the last successful build. Spark's jars, the same jars build.sbt compiles
against, are found under $SPARK_HOME/jars or, when SPARK_HOME is unset, next
to a `spark-submit` on the PATH.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "perfbench/scala")
RESOURCES = "src/main/resources"


def spark_jars():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources(root):
    found = []
    for top in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, top, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return the classpath to run the driver with."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "main")) for f in files):
        raise SystemExit("build: no program sources under src/main/scala")
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(root, files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes + os.pathsep + os.path.join(spark_jars(), "*")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    res = os.path.join(root, RESOURCES)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes + os.pathsep + cp


if __name__ == "__main__":
    print(build())
