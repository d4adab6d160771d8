#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own sources (enginebench/src) with the Scala compiler that ships
in the Spark distribution, into .bench_build/enginebench/classes at the root
of the checkout. A stamp over every source file skips the compile when
nothing changed.

    python3 enginebench/build.py          # build if needed, print the class dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "enginebench"


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the repository
    build's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("enginebench: no Spark jars (set SPARK_HOME)")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"enginebench: no program sources at {main.relative_to(ROOT)}")
    found = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [p for p in found if p.is_file()]


def build() -> Path:
    """Compile if any source changed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(staging), "-nowarn", f"@{argfile}"]
    print(f"[enginebench] compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"enginebench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
