#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(``src/main/scala``) together with the benchmark's own (``pipebench/src``)
into ``pipebench/.build/classes`` with the Scala compiler that ships among
the Spark jars named by the repository's ``build.sbt`` (``unmanagedBase``).

A stamp over every source file skips the compile when nothing changed.

Usage: python3 pipebench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def spark_jars() -> str:
    """The jar directory the repository's own sbt build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the engine")
    with open(sbt, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources() -> list:
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {r}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs: list, jars: str) -> str:
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compiles if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    cp = os.path.join(jars, "*")
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return CLASSES + os.pathsep + cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[pipebench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
