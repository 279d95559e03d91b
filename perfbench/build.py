#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`, `src/main/resources`) together with the harness
(`perfbench/src`) into `.bench_build/graftbench/classes`.

It calls the Scala compiler that ships with the Spark distribution directly,
so a build needs no sbt, no network and no state outside the checkout. The
Spark jars are `$SPARK_HOME/jars`, else the `unmanagedBase` that `build.sbt`
declares. A stamp holding the hash of every input file makes a rebuild a
no-op when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build" / "graftbench"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("build: set SPARK_HOME to a Spark distribution")
    return Path(m.group(1))


def classpath() -> str:
    return f"{OUT / 'classes'}{os.pathsep}{spark_jars() / '*'}"


def _inputs():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    if RESOURCES.is_dir():
        files += sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    return files


def build() -> Path:
    """Compile if any input changed; return the classes directory."""
    if not any(spark_jars().glob("spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {spark_jars()}")
    inputs = _inputs()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    stamp = OUT / "STAMP"
    classes = OUT / "classes"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    sources = [str(p) for p in inputs if p.suffix == ".scala"]
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(sources) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    print(f"build: compiling {len(sources)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    build()
