#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) and the
harness (perfbench/src) from source into one class directory.

    python3 perfbench/build.py            # builds into .bench_build/classes

The compiler is the Scala compiler that ships among the Spark jars (found
through $SPARK_HOME/jars, else the `unmanagedBase` of the repo's build.sbt),
so the build needs no network and no build server. A stamp over every source
file skips the build when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME (its jars/ holds Spark and the Scala compiler)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine}: run from a full checkout")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def build(work=ROOT / ".bench_build"):
    """Compile if the sources changed; return the class directory."""
    jars = spark_jars()
    files = sources()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for f in files + sorted(p for p in resources.rglob("*") if p.is_file()) + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = Path(work) / "classes"
    if (classes / "STAMP").is_file() and (classes / "STAMP").read_text() == stamp:
        return classes
    tmp = Path(work) / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    jtmp = Path(work) / "tmp"
    jtmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", str(tmp)] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compilation failed (exit {res.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
