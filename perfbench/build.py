#!/usr/bin/env python3
"""Builds the engine and the benchmark's JVM side from source with scalac.

The engine (src/main/scala) and the benchmark (perfbench/src) compile with
the Scala compiler that ships in the Spark distribution, against the jars
directory build.sbt names as its unmanagedBase (Spark's jars, Scala 2.13). The
classes go to .bench_build/classes; a stamp over every source file skips
the build when nothing changed. The list of graded query names is written
next to them, with each query's oracle SQL.

Usage: python3 perfbench/build.py
"""
import functools
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
QUERIES = BUILD / "queries.txt"
ORACLES = BUILD / "oracle_sql.json"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"

# build.sbt's run/fork javaOptions: Spark on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# no hsperfdata file in the system temp directory
JVM_OPTS = ["-XX:-UsePerfData"] + [
    a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


@functools.lru_cache(None)
def spark_jars():
    """The jars directory build.sbt compiles against."""
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    except OSError as e:
        raise BuildError(f"cannot read build.sbt: {e}")
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jars directory")
    return Path(m.group(1))


def sources(base):
    return sorted(base.rglob("*.scala"))


def classpath():
    return [str(CLASSES / "engine"), str(CLASSES / "bench"), f"{spark_jars()}/*"]


def stamp():
    h = hashlib.sha256()
    for f in sources(ENGINE_SRC) + sources(BENCH_SRC):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def scalac(out, cp, files):
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(cp)] + [str(f) for f in files]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")


def build():
    """Compiles if a source changed; returns the sorted graded query names."""
    if not ENGINE_SRC.is_dir() or not sources(ENGINE_SRC):
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    want = stamp()
    stamp_file = CLASSES / "stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == want and QUERIES.is_file()
            and ORACLES.is_file()):
        shutil.rmtree(CLASSES, ignore_errors=True)
        scalac(CLASSES / "engine", [f"{spark_jars()}/*"], sources(ENGINE_SRC))
        scalac(CLASSES / "bench", [str(CLASSES / "engine"), f"{spark_jars()}/*"],
               sources(BENCH_SRC))
        r = subprocess.run(["java", *JVM_OPTS, "-cp", os.pathsep.join(classpath()),
                            "graft.perfbench.PerfBench", "--list", str(BUILD)],
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise BuildError(f"listing the graded queries failed:\n{r.stderr[-4000:]}")
        stamp_file.write_text(want)
    return [n for n in QUERIES.read_text().split("\n") if n]


if __name__ == "__main__":
    try:
        print(f"{len(build())} graded queries built into {CLASSES}")
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
