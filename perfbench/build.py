#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (`src/main/scala`), the test-side HDF5
writer the input generator is built on, and the benchmark's own sources
(`perfbench/src`) with the Scala compiler shipped in the Spark distribution.
Run from the root of a checkout:

    python3 perfbench/build.py

Outputs go to `.bench_build/perfbench/classes`; a stamp of the source
contents makes a repeated build a no-op.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
# the generator writes ODIM files with the test-side writer, unmodified
WRITER = "src/test/scala/graft/odim/MiniHdf5Writer.scala"
RESOURCES = "src/main/resources"


def spark_jars():
    """The Spark jars directory: the `unmanagedBase` of the repository's
    build.sbt."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase (the Spark jars)")
    return m.group(1)


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not main or not os.path.isfile(WRITER) or not own:
        raise SystemExit(
            "perfbench: run from the root of a full checkout "
            "(src/main/scala, %s and perfbench/src are required)" % WRITER)
    return main + [WRITER] + own


def classpath():
    """Runtime classpath: compiled classes, main resources (the `odim`
    DataSourceRegister service file), Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed (exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
