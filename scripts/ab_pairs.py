#!/usr/bin/env python3
"""Interleaved A/B pairs of the repo benchmark for two checkouts.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload view_maintenance \
        --pairs 10 --seed0 1101 [--seconds 10] [--trace 0] [--json out.json]

Runs `python3 perfbench/run.py` once in each checkout per pair, with the
same workload, seed and run length on both sides; pair i uses seed
`seed0 + i`, and the side that runs first alternates (the parent runs
first on even i). Passing the same kind of checkout twice (two copies of
the parent) makes it an A/A run. Each run's last stdout line is the
benchmark's JSON result; a run that fails or reports incorrect output is
kept and counted, never retried.

Prints, per end-to-end metric of BENCHMARK.json: each side's median
[q1, q3], the change in the medians, how many pairs the change won
(ties count for neither side), the per-pair values, and whether a gain
claim holds — the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's own interquartile range.
Standard library only; it reads both checkouts and writes nothing in
them beyond what perfbench/run.py itself writes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """Median and the first and third quartiles (inclusive method)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"exit": p.returncode, "correct": False, "attempted": 0,
                "failed": 0, "metrics": {}}
    r = json.loads(lines[-1])
    r["exit"] = p.returncode
    return r


def value(r, name):
    m = r.get("metrics", {}).get(name)
    return None if m is None else float(m["value"])


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args(argv)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        pair = {"seed": seed, "first": order[0][0]}
        for side, d in order:
            pair[side] = run(d, a.workload, seed, a.seconds, a.trace)
        runs.append(pair)
        print(f"# pair {i + 1}/{a.pairs} seed {seed} ({pair['first']} first): " +
              ", ".join(f"{s} exit {pair[s]['exit']} correct {pair[s].get('correct')} "
                        f"failed {pair[s].get('failed')}/{pair[s].get('attempted')}"
                        for s in ("parent", "change")), flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)

    print(f"\n{a.workload}: {a.pairs} interleaved pairs, seeds {a.seed0}.."
          f"{a.seed0 + a.pairs - 1}, --seconds {a.seconds} --trace {a.trace}")
    for side in ("parent", "change"):
        bad = sum(1 for p in runs if p[side]["exit"] != 0 or not p[side].get("correct"))
        failed = sum(p[side].get("failed", 0) for p in runs)
        attempted = sum(p[side].get("attempted", 0) for p in runs)
        print(f"{side}: {bad} runs not correct, {failed} of {attempted} ops failed")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | Δ median | change wins | gain claim holds |")
    print("| --- | --- | --- | --- | --- | --- |")
    details = []
    for m in spec:
        name, better = m["name"], m["better"]
        vals = [(value(p["parent"], name), value(p["change"], name)) for p in runs]
        vals = [(x, y) for x, y in vals if x is not None and y is not None]
        if not vals:
            continue
        ps, cs = [x for x, _ in vals], [y for _, y in vals]
        pm, pq1, pq3 = quartiles(ps)
        cm, cq1, cq3 = quartiles(cs)
        wins = sum(1 for x, y in vals if (y < x if better == "lower" else y > x))
        gap = (pm - cm) if better == "lower" else (cm - pm)
        holds = wins * 10 >= 9 * len(vals) and gap > (pq3 - pq1)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"| `{name}` ({m['unit']}) | {pm:.4g} [{pq1:.4g}, {pq3:.4g}] | "
              f"{cm:.4g} [{cq1:.4g}, {cq3:.4g}] | {delta:+.1f} % | {wins}/{len(vals)} | "
              f"{'yes' if holds else 'no'} |")
        details.append(f"{name} per pair parent/change: " +
                       ", ".join(f"{x:.4g}/{y:.4g}" for x, y in vals))
    print()
    print("\n".join(details))


if __name__ == "__main__":
    main(sys.argv[1:])
