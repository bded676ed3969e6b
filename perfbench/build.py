#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/perfbench/classes.

A stamp of the sources' hash skips the compile when nothing changed.
Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


def spark_jars():
    """The Spark jar directory the project builds against: the
    `unmanagedBase` of the root build.sbt, else SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        return Path(m.group(1))
    return Path(os.environ["SPARK_HOME"]) / "jars" if "SPARK_HOME" in os.environ else None


SPARK_JARS = spark_jars()
COMPILE_TIMEOUT_S = 780


class BuildError(Exception):
    pass


def sources():
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files + sorted(p for p in RESOURCES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scala_jars():
    if SPARK_JARS is None or not SPARK_JARS.is_dir():
        raise BuildError(f"Spark jars not found ({SPARK_JARS}): set SPARK_HOME")
    jars = {}
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(SPARK_JARS.glob(f"{name}-2.13.*.jar"))
        if not found:
            raise BuildError(f"{name} 2.13 jar not found in {SPARK_JARS}")
        jars[name] = found[-1]
    return jars


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(SPARK_JARS / "*")])


def build():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"no program sources at {PROGRAM_SRC}: run from the repository root")
    files = sources()
    stamp = digest(files)
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jars = scala_jars()
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(str(jars[n]) for n in ("scala-compiler", "scala-library", "scala-reflect")),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", str(SPARK_JARS / "*"), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    STAMP.write_text(stamp)


if __name__ == "__main__":
    try:
        build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"perfbench build: ok ({CLASSES})")
