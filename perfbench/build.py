#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships among Spark's
jars. Rebuilds only when a source, a resource or this file changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = CLASSES / ".stamp"


def fail(msg):
    sys.exit(f"perfbench build: {msg}")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase
    the repository's sbt build declares."""
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"engine sources not found under {main.relative_to(ROOT)}")
    bench = ROOT / "perfbench" / "src"
    files = sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return files, res, resources


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build():
    """Return the classes directory, compiling first if it is stale."""
    files, res_dir, resources = sources()
    jars = spark_jars()
    stamp = fingerprint(files + resources + [Path(__file__).resolve()])
    if STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES, jars
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(jars / "*")
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"scalac exited with {r.returncode}")
    for p in resources:
        dst = tmp / p.relative_to(res_dir)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
