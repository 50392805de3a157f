#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's (perfbench/src) into
perfbench/target/classes with the Scala compiler that ships among the
Spark jars. Rebuilds only when a source file changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSES = TARGET / "classes"
STAMP = TARGET / "classes.sha256"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources() -> list:
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("source directory missing: " + ", ".join(missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = TARGET / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", str(CLASSES), "@" + str(argfile)]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    STAMP.write_text(digest)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
