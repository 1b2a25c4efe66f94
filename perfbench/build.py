#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships among the Spark jars, so no sbt and no dependency
resolution is needed.

    python3 perfbench/build.py          # prints the class directory

Output goes to .bench_build/perfbench/classes-<hash of every source>, so a
changed source builds afresh and an unchanged tree reuses the last build.
The Spark jar directory is $SPARK_HOME/jars, else the first `jars` directory
beside a `bin/spark-submit` on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(b) for b in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(b, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def scala_files():
    files = []
    for src in SOURCES:
        if not os.path.isdir(src):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(src, ROOT)} is missing")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def out_dir(root=ROOT):
    return os.path.join(root, ".bench_build", "perfbench")


def build():
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    dest = os.path.join(out_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".built")):
        return dest
    tmp = dest + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    # older builds of other trees are dead weight
    for n in os.listdir(out_dir()):
        p = os.path.join(out_dir(), n)
        if n.startswith("classes-") and p != dest and ".tmp" not in n:
            shutil.rmtree(p, ignore_errors=True)
    return dest


if __name__ == "__main__":
    print(build())
