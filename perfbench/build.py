#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/scala) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.
It skips the compile when no source changed since the last build.

    python3 perfbench/build.py            # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def _spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not home or not any(jars.glob("spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def sources() -> list:
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build(log=sys.stderr) -> Path:
    srcs = sources()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not srcs:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.sha256"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return CLASSES
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-cp", f"{SPARK_JARS}/*", f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    build()
