#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/scala) in one scalac run, with the Scala
compiler and the Spark jars of the Spark distribution the engine builds
against ($SPARK_HOME/jars, else the jar directory build.sbt names as
`unmanagedBase`). Output goes to
.bench_build/classes-<hash of the sources>, so an unchanged tree is built
once and a changed one is rebuilt.

Usage: python3 perfbench/build.py   (from the repository root; prints the
classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root="."):
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jar directory: set SPARK_HOME")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(root, "src/main/scala")) for p in found):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(found)


def build(root="."):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILT")):
        return out
    jars = spark_jars(root)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", cp, "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, "BUILT"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for d in os.listdir(os.path.join(root, BUILD_DIR)):   # builds of older trees
        if d.startswith("classes-") and os.path.join(root, BUILD_DIR, d) != out:
            shutil.rmtree(os.path.join(root, BUILD_DIR, d), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
