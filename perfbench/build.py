#!/usr/bin/env python3
"""Build file of the serve-path benchmark.

Compiles the server's sources (src/main/scala) together with the
benchmark's own (perfbench/src) against the Spark jars, into
.bench_build/perfbench/classes. A stamp of the sources' hash skips the
compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return main, bench


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles if the sources changed; returns the classpath to run with."""
    main, bench = sources()
    if not main:
        sys.exit(f"no server sources under {ROOT}/src/main/scala: run from a full checkout")
    h = hashlib.sha256()
    for f in main + bench + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(main + bench) + "\n")
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
                    "-d", CLASSES, "@" + argfile], check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
