#!/usr/bin/env python3
"""Benchmark of record for the pcap engine (see perfbench/README.md).

    python3 perfbench/run.py --workload lake_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine on first use, generates
the workload's inputs from the seed, runs the closed loop in one
local-mode Spark process, checks every output, and prints one JSON
object as the last line of stdout: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import math
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170

JVM_OPTS = [
    # a fixed heap and fixed generation sizes: adaptive resizing moves
    # GC pauses between runs
    "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g",
    "-Xmn1536m", "-XX:SurvivorRatio=6", "-Xss8m",
    # the JVM's perf-counter file would live outside the checkout
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    sys.exit(f"perfbench: {msg}")


def load_spec():
    path = ROOT / "BENCHMARK.json"
    try:
        spec = json.loads(path.read_text())
        return (spec, [w["name"] for w in spec["workloads"]],
                {m["name"]: m["unit"] for m in spec["end_to_end"]},
                {m["name"]: m["unit"] for m in spec["per_layer"]})
    except (OSError, ValueError, KeyError, TypeError) as e:
        fail(f"BENCHMARK.json is missing or unparseable: {e!r}")


def validate(res, want):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool):
        fail("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or res[k] < 0:
            fail(f"{k} is not a whole number")
    if res["attempted"] < 1:
        fail("no operation was attempted")
    got = res["metrics"]
    if set(got) != set(want):
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got[name]
        if m.get("unit") != unit:
            fail(f"{name}: unit {m.get('unit')!r}, want {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            fail(f"{name}: value {v!r} is not a finite number")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    _, workloads, e2e, layers = load_spec()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; BENCHMARK.json lists {workloads}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classes, jars = build.build()
    work = build.BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", f"{classes}:{jars / '*'}", "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--trace-dir", str(logs)]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True)

            def stop(signum, _frame):
                proc.kill()
                proc.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {TIMEOUT_S} s; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    diag = [ln for ln in log_path.read_text(errors="replace").splitlines()
            if ln.startswith("[perfbench]")]
    for ln in diag:
        print(ln, file=sys.stderr)
    if proc.returncode != 0:
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark process exited with {proc.returncode}; log: {log_path}")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        fail("benchmark process printed no result")
    try:
        res = json.loads(lines[-1])
    except ValueError as e:
        fail(f"unparseable result line: {e}")
    validate(res, layers if a.trace else e2e)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
