#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload <delta_mor|sql_dml> \
        --seed <n> --seconds <s> --trace <0|1> [--corrupt-expected 1]

Run from the root of a checkout. Builds the engine and harness from source
when needed (perfbench/build.py), checks that memory and disk can hold the
run, then starts one JVM (perfbench.Main) with Spark on local[<all cores>].
Everything it writes stays under .bench_build/ in the checkout. The JVM's
report goes to stderr; the last line of stdout is the JSON result. Exits
non-zero, printing no result, if the build, the checks or the run fail.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORK = build.ROOT / ".bench_build"
TIMEOUT_S = 175
GIB = 1 << 30
MIB = 1 << 20

# what one run keeps on disk at most: cached inputs of two seeds, the
# tables, and shuffle files (measured sizes are a fraction of this)
DISK_BYTES = {"delta_mor": 2 * GIB, "sql_dml": 1 * GIB}

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def meminfo():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def memory_plan():
    """Heap and off-heap sizes derived from the machine: a quarter of RAM
    for the heap (1-4 GiB), a sixteenth for Spark's off-heap pages
    (256 MiB-1 GiB)."""
    mem = meminfo()
    heap = min(4 * GIB, max(1 * GIB, mem["MemTotal"] // 4))
    offheap = min(1 * GIB, max(256 * MIB, mem["MemTotal"] // 16))
    return heap, offheap, mem.get("MemAvailable", mem["MemTotal"])


def fail(msg, code=3):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DISK_BYTES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt-expected", default="0", choices=["0", "1"],
                    help="perturb the expected final state (the check must then fail)")
    a = ap.parse_args()

    try:
        classes = build.build(WORK)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    heap, offheap, available = memory_plan()
    need = heap + offheap + 1 * GIB  # + JVM metaspace, threads, page cache
    if available < need:
        fail(f"not enough memory: {available // MIB} MiB available, the run needs "
             f"{need // MIB} MiB (heap {heap // MIB} + off-heap {offheap // MIB} + 1024)")
    free = shutil.disk_usage(WORK).free
    if free < DISK_BYTES[a.workload]:
        fail(f"not enough disk under {WORK}: {free // MIB} MiB free, "
             f"{a.workload} needs {DISK_BYTES[a.workload] // MIB} MiB for inputs, tables and shuffle")

    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log4j = Path(__file__).resolve().parent / "log4j2.properties"
    cmd = (["java", f"-Xmx{heap // MIB}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(WORK), "--offheap-mb", str(offheap // MIB),
              "--corrupt-expected", a.corrupt_expected])
    # measure the shipped defaults: no engine knob leaks in from the caller;
    # Spark's scratch space stays in the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            cwd=build.ROOT, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {TIMEOUT_S}s and was stopped", 4)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or result is None:
        if lines:
            print(lines[-1], file=sys.stderr)
        fail(f"run failed (exit {proc.returncode})", proc.returncode or 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
