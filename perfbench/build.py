#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution ($SPARK_HOME/jars).

A stamp of the sources' digest skips the compile when nothing changed.
Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    return jars


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build() -> Path:
    """Compile if the sources changed since the last build; return the
    classes directory."""
    if not SOURCE_DIRS[0].is_dir():
        raise SystemExit(f"build: no program sources under {SOURCE_DIRS[0]}")
    sources = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", jars, f"@{argfile}"]
    print(f"build: compiling {len(sources)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit("build: compile failed")
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    build()
