#!/usr/bin/env python3
"""Build the benchmark: compile the repository's main Scala sources together
with perfbench/src into .bench_build/perfbench/classes, using the Scala
compiler that ships among Spark's jars (no sbt, nothing written outside the
checkout). A stamp over every source file skips the compile when nothing
changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt declares as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"repository sources missing: {main}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def resources() -> Path:
    return ROOT / "src" / "main" / "resources"


def build() -> Path:
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    compiler = sorted(jars.glob("scala-compiler-2.13*.jar"))
    library = sorted(jars.glob("scala-library-2.13*.jar"))
    reflect = sorted(jars.glob("scala-reflect-2.13*.jar"))
    if not (compiler and library and reflect):
        raise BuildError(f"no Scala 2.13 compiler among {jars}")
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(p) for p in (compiler[-1], library[-1], reflect[-1])),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*"), "@" + str(argfile)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
