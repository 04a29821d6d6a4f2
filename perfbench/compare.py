#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl [--top N]

Each file holds the records `run.py --save FILE` appends, one per run. For
every (workload, metric) the report gives each side's median and quartiles,
the ratio of medians with its base, and the share of pairs the change wins
(runs paired by seed, else in order; ties count for neither side). It then
ranks the items of each workload by the change in wall time, in Spark jobs
and in shuffle bytes (jobs and shuffle come from traced runs).
"""
import argparse
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def directions():
    """metric → "lower" | "higher", from BENCHMARK.json when present."""
    out = {}
    try:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
            out[m["name"]] = m["better"]
    except OSError:
        pass
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(a_runs, b_runs):
    by_seed_b = {r["seed"]: r for r in b_runs}
    common = [r for r in a_runs if r["seed"] in by_seed_b]
    if common:
        return [(r, by_seed_b[r["seed"]]) for r in common]
    return list(zip(a_runs, b_runs))


def metric_table(a, b, better):
    groups = defaultdict(lambda: ([], []))
    for side, runs in ((0, a), (1, b)):
        for r in runs:
            groups[(r["workload"], r["trace"])][side].append(r)
    rows = []
    for (wl, tr), (ra, rb) in sorted(groups.items()):
        if not ra or not rb:
            continue
        names = sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"]))
        for m in names:
            va = [r["metrics"][m]["value"] for r in ra]
            vb = [r["metrics"][m]["value"] for r in rb]
            qa, qb = quartiles(va), quartiles(vb)
            sign = -1 if better.get(m, "lower") == "lower" else 1
            wins = losses = 0
            for x, y in pairs(ra, rb):
                d = sign * (y["metrics"][m]["value"] - x["metrics"][m]["value"])
                wins += d > 0
                losses += d < 0
            n = len(pairs(ra, rb))
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            rows.append((wl, tr, m, ra[0]["metrics"][m]["unit"], qa, qb, ratio,
                         wins / n if n else 0.0, n))
    print(f"{'workload':16s} {'t':1s} {'metric':28s} {'base med [q1, q3]':>30s}"
          f" {'change med [q1, q3]':>30s} {'change/base':>22s} {'wins':>9s}")
    for wl, tr, m, unit, qa, qb, ratio, win, n in rows:
        fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
        fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
        print(f"{wl:16s} {tr:1d} {m:28s} {fa:>30s} {fb:>30s} "
              f"{ratio:8.3f} of {qa[1]:<10.4g} {win:5.2f}/{n}  {unit}")


def item_ranking(a, b, top):
    def per_item(runs):
        acc = defaultdict(lambda: defaultdict(list))
        for r in runs:
            for it in r.get("items", []):
                key = (r["workload"], it["item"])
                for k in ("seconds", "jobs", "shuffle_mb"):
                    if k in it:
                        acc[key][k].append(it[k])
        return {k: {f: statistics.median(v) for f, v in d.items()}
                for k, d in acc.items()}
    ia, ib = per_item(a), per_item(b)
    keys = sorted(set(ia) & set(ib))
    for field, label in (("seconds", "wall s"), ("jobs", "Spark jobs"),
                         ("shuffle_mb", "shuffle MB")):
        ranked = [(ib[k][field] - ia[k][field], k) for k in keys
                  if field in ia[k] and field in ib[k]]
        if not ranked:
            continue
        ranked.sort(key=lambda x: -abs(x[0]))
        print(f"\nitems ranked by change in {label} (median per item per run):")
        for d, (wl, item) in ranked[:top]:
            base = ia[(wl, item)][field]
            print(f"  {wl:16s} {item:34s} {base:10.4g} -> "
                  f"{ib[(wl, item)][field]:10.4g}  ({d:+.4g}, base {base:.4g})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    base, change = load(a.base), load(a.change)
    metric_table(base, change, directions())
    item_ranking(base, change, a.top)


if __name__ == "__main__":
    main()
