#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py [workload ...]

For each workload (both by default), from the checkout root:
  1. an untraced run must pass its checks and print exactly the
     end_to_end metrics of BENCHMARK.json, each with its unit;
  2. a traced run must do the same with the per_layer metrics, and its
     trace must place every Spark job inside exactly one op span;
  3. a traced run with `--corrupt` (expected outputs deliberately
     spoiled) must fail every op's check, print `"correct": false` and
     exit non-zero. It is the traced run because only that one runs
     every op kind (query rows, purges).
Exit code 0 when every step holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["batch_mix", "view_maintenance"]


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result


def main(names):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    errors = []
    for w in names:
        for trace in (0, 1):
            code, res = run(w, trace)
            tag = f"{w} trace={trace}"
            if code != 0 or res is None or not res["correct"] or res["failed"]:
                errors.append(f"{tag}: exit {code}, result {res}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                errors.append(f"{tag}: metrics differ from BENCHMARK.json: "
                              f"missing {missing}, extra {extra}, wrong unit {wrong}")
            if trace == 1 and res["metrics"]["trace.jobs_outside_op"]["value"] != 0:
                errors.append(f"{tag}: jobs outside their op span")
            print(f"ok   {tag}: {res['attempted']} ops, {len(got)} metrics")
        code, res = run(w, 1, ["--corrupt"])
        if code == 0 or res is None or res["correct"] or res["failed"] != res["attempted"]:
            errors.append(f"{w} --corrupt: expected every check to fail, "
                          f"got exit {code}, result {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")
        else:
            print(f"ok   {w} --corrupt: {res['failed']}/{res['attempted']} ops failed their check")
    for e in errors:
        print(f"FAIL {e}")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main(sys.argv[1:] or WORKLOADS)
