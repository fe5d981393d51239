"""Build file of the flow benchmark: compiles the program's main sources
(src/main/scala) together with the benchmark's own sources
(flowbench/src) with scalac, against the Spark jars ($SPARK_HOME/jars,
else build.sbt's `unmanagedBase`), into .bench_build/flowbench/classes.
A stamp over every source file skips the compile when nothing changed.

  python3 flowbench/build.py      # from the repository root
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "flowbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's own build
    names (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read() if os.path.isfile(sbt) else "")
    if not m:
        raise SystemExit("flowbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


SPARK_JARS = spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("flowbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return main + bench


def compiler_jars():
    jars = [os.path.join(SPARK_JARS, f"scala-{n}-2.13.17.jar")
            for n in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"flowbench: scala compiler jars not found: {missing}")
    return jars


def classpath():
    """Runtime classpath of the benchmark JVM."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    print(f"flowbench: compiling {len(srcs)} sources", file=log)
    if os.path.isdir(CLASSES):
        shutil.rmtree(CLASSES)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler_jars()), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(SPARK_JARS, "*"),
           "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"flowbench: compile failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
