#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

Usage (from anywhere):

    python3 dev/bench_ab.py <parent-checkout> <change-checkout> \
        --workload migrate_chat --pairs 8 [--seed 1] [--log runs.jsonl]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 1
--trace 0` once in each checkout, one run at a time; the side that leads
alternates from pair to pair (pair 1: parent first). Any run that exits
non-zero or prints `"correct":false` stops the A/B with exit code 1.

For every end-to-end metric in the change checkout's BENCHMARK.json it
prints the median with lower/upper quartiles per side, the change of the
median, the pairs the change won (ties win nothing), and whether the
change's median is better than the parent's by more than the parent's
quartile spread. The first run in a checkout also builds it (see
perfbench/run.py); the build is outside the measured interval.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    if p.returncode != 0 or result is None or result.get("correct") is not True:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit(f"bench_ab: {workload} in {checkout} failed "
                 f"(exit {p.returncode}, correct={result and result.get('correct')})")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    """(lower quartile, median, upper quartile); inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:,.0f}" if abs(x) >= 1000 else f"{x:.4g}"


def table(metrics, parent, change):
    rows = ["| metric | parent | change | Δ | change better | beyond parent spread |",
            "|---|---|---|---|---|---|"]
    n = len(parent)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [r[name] for r in parent]
        b = [r[name] for r in change]
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        delta = f"{(b2 - a2) / a2 * 100:+.1f} %" if a2 else "—"
        gain = (a2 - b2) if lower else (b2 - a2)
        beyond = "yes" if gain > a3 - a1 else "no"
        rows.append(f"| {name} | {fmt(a2)} ({fmt(a1)}/{fmt(a3)}) | "
                    f"{fmt(b2)} ({fmt(b1)}/{fmt(b3)}) | {delta} | {wins}/{n} | {beyond} |")
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--log", help="append every run's metrics as JSON lines")
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(checkouts[side], a.workload, a.seed)
            runs[side].append(r)
            print(f"bench_ab: pair {i + 1}/{a.pairs} {side}: " +
                  " ".join(f"{k}={fmt(v)}" for k, v in r.items()), file=sys.stderr)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps({"workload": a.workload, "pair": i + 1, "side": side,
                                         "leader": order[0], "metrics": r}) + "\n")

    print(f"{a.workload}, {a.pairs} interleaved pairs, seed {a.seed}; "
          "median (lower/upper quartile)")
    print(table(metrics, runs["parent"], runs["change"]))


if __name__ == "__main__":
    main()
