#!/usr/bin/env python3
"""Alternating A/B pairs of benchmark runs between two checkouts.

Usage: python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B
           [--seconds S] [--trace 0|1] [--out DIR]

For each seed N in A..B this runs `perfbench/run.py --workload W --seed N
--seconds S --trace T --save FILE` once in each checkout (each from its own
root, so each builds and runs its own engine). Odd pairs (the 1st, 3rd, ...)
run the parent first and even pairs the change first, so a drift in the
machine's load falls on both sides alike. Records go to OUT/parent.jsonl and
OUT/change.jsonl (emptied first) and each run's output to
OUT/<side>-<seed>.log; a run that exits non-zero stops the script. At the
end it prints the change checkout's
`perfbench/compare.py OUT/parent.jsonl OUT/change.jsonl`.

S defaults to `run_seconds` of the change's BENCHMARK.json; OUT to
CHANGE_DIR/.bench_build/abpairs/W. Dev tool only.
"""
import argparse
import json
import os
import subprocess
import sys


def seconds_of(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return float(json.load(f)["run_seconds"])


def run(checkout, side, seed, a, out):
    save = os.path.join(out, f"{side}.jsonl")
    log = os.path.join(out, f"{side}-{seed}.log")
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--save", save]
    with open(log, "w") as f:
        code = subprocess.run(cmd, cwd=checkout, stdout=f,
                              stderr=subprocess.STDOUT).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    wall = last.get("metrics", {}).get("wall_s", {}).get("value")
    print(f"  {side:6s} seed {seed}: exit {code}, wall_s {wall}", flush=True)
    if code != 0:
        sys.exit(f"{side} run for seed {seed} failed; see {log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, metavar="A-B")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    if a.seconds is None:
        a.seconds = seconds_of(change)
    out = os.path.abspath(a.out or os.path.join(
        change, ".bench_build", "abpairs", a.workload))
    os.makedirs(out, exist_ok=True)
    for side in ("parent", "change"):
        open(os.path.join(out, f"{side}.jsonl"), "w").close()

    for i, seed in enumerate(range(lo, hi + 1)):
        order = [("parent", parent), ("change", change)]
        if i % 2 == 1:
            order.reverse()
        print(f"pair {i + 1} (seed {seed}): {order[0][0]} first", flush=True)
        for side, checkout in order:
            run(checkout, side, seed, a, out)

    subprocess.run([sys.executable, os.path.join(change, "perfbench",
                                                 "compare.py"),
                    os.path.join(out, "parent.jsonl"),
                    os.path.join(out, "change.jsonl")], check=True)


if __name__ == "__main__":
    main()
