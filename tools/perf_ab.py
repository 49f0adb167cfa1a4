#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/perf_ab.py --parent <dir> --change <dir> \\
        --workload landing_triage --seeds 11-20 --seconds 8 [--trace 0|1]

Each seed is one pair: both trees run their own `perfbench/run.py` with
that seed, the parent first on even pairs and the change first on odd
ones, so a drift in host load falls on both sides alike. For every
metric it prints the parent and change medians, the parent's
interquartile range and the number of pairs the change won (by the
metric's `better` direction in the parent's BENCHMARK.json). A run that
is not `correct`, has failed operations or exits non-zero is flagged and
its pair is left out of the table. `--out` also writes every run's
result as JSON lines.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(tree, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except ValueError:
        res = None
    if res is None:
        tail = "\n".join(p.stderr.splitlines()[-5:])
        return None, f"exit {p.returncode}: {tail}"
    if not res["correct"] or res["failed"]:
        return res, f"correct={res['correct']} failed={res['failed']}"
    return res, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, help="JSON lines of every run")
    a = ap.parse_args()

    spec = json.loads((a.parent / "BENCHMARK.json").read_text())
    better = {m["name"]: m.get("better", "lower")
              for m in spec["end_to_end"] + spec["per_layer"]}
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    pairs, flagged = [], []
    out = open(a.out, "w") if a.out else None
    for k, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            res, bad = run(sides[side], a, seed)
            print(f"[perf_ab] seed {seed} {side}: "
                  f"{bad or 'correct, 0 failed'}", file=sys.stderr)
            if out:
                out.write(json.dumps({"seed": seed, "side": side,
                                      "flag": bad, "result": res}) + "\n")
                out.flush()
            if bad:
                flagged.append((seed, side, bad))
            got[side] = None if bad else res["metrics"]
        if got["parent"] and got["change"]:
            pairs.append(got)

    print(f"{a.workload}: {len(pairs)} clean pairs, {len(flagged)} "
          f"flagged runs")
    for seed, side, bad in flagged:
        print(f"  FLAGGED seed {seed} {side}: {bad}")
    if not pairs:
        sys.exit(1)
    print(f"{'metric':32} {'parent':>10} {'change':>10} {'delta':>8} "
          f"{'parent IQR':>10} {'wins':>6}")
    for name in sorted(pairs[0]["parent"]):
        p = [x["parent"][name]["value"] for x in pairs]
        c = [x["change"][name]["value"] for x in pairs]
        up = better.get(name, "lower") == "higher"
        wins = sum((cv > pv) if up else (cv < pv) for pv, cv in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"{name:32} {pm:10.4g} {cm:10.4g} {delta:>8} {q3 - q1:10.4g} "
              f"{wins:>3}/{len(pairs)}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
