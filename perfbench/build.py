#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the benchmark's own (perfbench/scala) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/perfbench.

Run from the root of a checkout:  python3 perfbench/build.py
The build is skipped when a stamp of every source file's path and content
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"


def spark_jars(root: Path = Path(".")) -> Path:
    """$SPARK_HOME/jars, else the `unmanagedBase` directory of build.sbt."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return Path(m.group(1))


def sources(root: Path) -> list:
    prog = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "scala"
    if not prog.is_dir() or not bench.is_dir():
        raise SystemExit(f"build: program sources not found under {root}")
    files = sorted(p for d in (prog, bench) for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no Scala sources")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path = Path(".")) -> Path:
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars(root)
    if not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars}")
    files = sources(root)
    classes = root / BUILD_DIR / "classes"
    stamp_file = root / BUILD_DIR / "classes.stamp"
    want = stamp(files)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = root / BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
