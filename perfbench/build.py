#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/perfbench/classes with the Scala compiler that ships in
Spark's jars directory. A digest of every source file is kept beside the
classes, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py     (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + harness


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile if needed; return (classes dir, source digest)."""
    out = os.path.join(root, ".bench_build", "perfbench", "classes")
    files = sources(root)
    want = digest(files)
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    jars = spark_jars()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, ".bench_build", "perfbench", "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(want)
    return out, want


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
