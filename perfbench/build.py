#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships in Spark's jar
directory (the one build.sbt uses) into $CARGO_TARGET_DIR/classes (default
.bench_build/classes). A stamp of every source's path and content skips the
compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the `unmanagedBase` jar directory that build.sbt
    compiles the engine against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
    if not found:
        raise SystemExit("build: set SPARK_HOME or declare unmanagedBase in build.sbt")
    return Path(found.group(1))


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def ensure_built() -> Path:
    """Returns the classes directory, compiling first if any source changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp_text = digest.hexdigest()
    out = build_dir()
    classes, stamp = out / "classes", out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == stamp_text:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes), f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"build: scalac exited with {done.returncode}")
    stamp.write_text(stamp_text)
    return classes


if __name__ == "__main__":
    print(ensure_built())
