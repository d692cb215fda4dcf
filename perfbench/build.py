#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/perfbench/classes`, with the Scala compiler that ships
among Spark's jars. A content digest of every source skips the compile
when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not list(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark installation with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources() -> list:
    if not (ENGINE_SRC / "graft").is_dir():
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}; "
                 "run from a checkout of the repository")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build() -> tuple:
    """Compile if any source changed; return the classes directory and
    the source digest."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = OUT / "digest"
    classes = OUT / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes, digest.hexdigest()
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes, digest.hexdigest()


if __name__ == "__main__":
    print(build()[0])
