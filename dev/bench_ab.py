#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

Usage (from anywhere):

    python3 dev/bench_ab.py <parent-checkout> <change-checkout> \
        --workload migrate_chat --pairs 8 [--seed 1] [--log runs.jsonl]
    python3 dev/bench_ab.py --from-log runs.jsonl [--workload W] [--seed S]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 1
--trace 0` once in each checkout, one run at a time; the side that leads
alternates from pair to pair (pair 1: parent first). Any run that exits
non-zero or prints `"correct":false` stops the A/B with exit code 1.

For every end-to-end metric in BENCHMARK.json (the change checkout's, or
this repository's with --from-log) it prints the median with lower/upper
quartiles per side, the change of the median, the pairs the change won
(ties win nothing), whether the change's median is better than the
parent's by more than the parent's quartile spread, and a verdict against
the metric's relative bound:

- gain: the change won at least 9 in 10 pairs and beat the parent's spread;
- regression: the change's median is worse than the parent's by more than
  the bound;
- unresolved: the parent's quartile spread is wider than the bound and not
  every change run beats every parent run;
- within bound: none of these.

--from-log rebuilds the table from a --log file without running anything.
The first run in a checkout also builds it (see perfbench/run.py); the
build is outside the measured interval.
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


def verdict(gain, spread, median, bound, won_share, beats_all):
    """`gain` is how much the change's median beats the parent's `median`
    (negative when worse), `spread` the parent's quartile distance."""
    if won_share >= 0.9 and gain > spread:
        return "gain"
    if median and -gain / abs(median) > bound:
        return "regression"
    if median and spread / abs(median) > bound and not beats_all:
        return "unresolved"
    return "within bound"


def table(metrics, parent, change):
    rows = ["| metric | parent | change | Δ | change better | beyond parent spread | verdict |",
            "|---|---|---|---|---|---|---|"]
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
        beats_all = max(b) < min(a) if lower else min(b) > max(a)
        rows.append(f"| {name} | {fmt(a2)} ({fmt(a1)}/{fmt(a3)}) | "
                    f"{fmt(b2)} ({fmt(b1)}/{fmt(b3)}) | {delta} | {wins}/{n} | {beyond} | "
                    f"{verdict(gain, a3 - a1, a2, m['bound'], wins / n, beats_all)} |")
    return "\n".join(rows)


def from_log(path, workload, seed):
    """(workload, seed, parent runs, change runs) of one workload and seed
    recorded in a --log file."""
    with open(path) as fh:
        recs = [json.loads(l) for l in fh if l.strip()]
    recs = [r for r in recs if workload in (None, r["workload"])
            and seed in (None, r.get("seed"))]
    keys = sorted({(r["workload"], r.get("seed")) for r in recs}, key=str)
    if len(keys) != 1:
        sys.exit(f"bench_ab: {path} holds (workload, seed) {keys}; "
                 "choose one with --workload and --seed")
    runs = {side: [r["metrics"] for r in sorted(recs, key=lambda r: r["pair"])
                   if r["side"] == side] for side in ("parent", "change")}
    if len(runs["parent"]) != len(runs["change"]):
        sys.exit(f"bench_ab: {path} has {len(runs['parent'])} parent and "
                 f"{len(runs['change'])} change runs of {keys[0]}")
    return keys[0] + (runs["parent"], runs["change"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seed", type=int, help="default 1; with --from-log, the seed to show")
    ap.add_argument("--log", help="append every run's metrics as JSON lines")
    ap.add_argument("--from-log", metavar="F",
                    help="print the table of a --log file F; runs nothing")
    a = ap.parse_args()
    if a.from_log:
        if a.parent or a.change or a.pairs or a.log:
            ap.error("--from-log takes only --workload and --seed")
        bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(bench) as fh:
            metrics = json.load(fh)["end_to_end"]
        workload, seed, parent, change = from_log(a.from_log, a.workload, a.seed)
        print(f"{workload}, {len(parent)} interleaved pairs, seed {seed}; "
              "median (lower/upper quartile)")
        print(table(metrics, parent, change))
        return
    if not (a.parent and a.change and a.workload and a.pairs):
        ap.error("parent, change, --workload and --pairs are required without --from-log")
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    a.seed = 1 if a.seed is None else a.seed
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
                    fh.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                         "pair": i + 1, "side": side,
                                         "leader": order[0], "metrics": r}) + "\n")

    print(f"{a.workload}, {a.pairs} interleaved pairs, seed {a.seed}; "
          "median (lower/upper quartile)")
    print(table(metrics, runs["parent"], runs["change"]))


if __name__ == "__main__":
    main()
