#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

Usage:

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result records as run.py writes them to
.bench_build/results/ (one JSON file per run, stamped with its workload, seed
and trace flag); copy that directory aside after each set of runs. For every
workload and every end-to-end metric of BENCHMARK.json it prints both sides'
median and quartiles, the fraction of same-seed pairs the change wins, and a
verdict:

  improved       the change wins at least 9 in 10 pairs and its median beats
                 the base median by more than the base's quartile spread;
  worse          the change's median is worse than the base's by more than
                 the metric's bound;
  within bound   neither, and the base's own spread is within the bound;
  unresolved     neither, and the base's spread is wider than the bound.

For each workload with traced runs in CHANGE_DIR it also prints the tracing
overhead: traced total_s minus the median untraced total_s.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load_runs(directory):
    """{workload: {"untraced": {seed: metrics}, "traced": {seed: metrics}}}"""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        kind = "traced" if rec["trace"] else "untraced"
        metrics = {k: m["value"] for k, m in rec["result"]["metrics"].items()}
        w = runs.setdefault(rec["workload"], {"untraced": {}, "traced": {}})
        w[kind][rec["seed"]] = metrics
    return runs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """Compares two {seed: value} maps of one metric."""
    b_vals, c_vals = list(base.values()), list(change.values())
    bq1, bmed, bq3 = quartiles(b_vals)
    cq1, cmed, cq3 = quartiles(c_vals)
    sign = -1.0 if better == "lower" else 1.0
    pairs = [(base[s], change[s]) for s in base if s in change]
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    win_frac = wins / len(pairs) if pairs else float("nan")
    spread = bq3 - bq1
    gain = sign * (cmed - bmed)
    if pairs and win_frac >= 0.9 and gain > spread:
        v = "improved"
    elif -gain > bound * abs(bmed):
        v = "worse"
    elif spread <= bound * abs(bmed) or (
            pairs and min(sign * c for c in c_vals) > max(sign * b for b in b_vals)):
        v = "within bound"
    else:
        v = "unresolved"
    return {"base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3),
            "pairs": len(pairs), "win_frac": win_frac, "verdict": v}


def compare(base_runs, change_runs, spec):
    rows, overheads = [], []
    for w in sorted(set(base_runs) | set(change_runs)):
        b = base_runs.get(w, {}).get("untraced", {})
        c = change_runs.get(w, {}).get("untraced", {})
        for m in spec["end_to_end"]:
            bm = {s: v[m["name"]] for s, v in b.items() if m["name"] in v}
            cm = {s: v[m["name"]] for s, v in c.items() if m["name"] in v}
            if not bm or not cm:
                rows.append((w, m, None))
                continue
            rows.append((w, m, verdict(bm, cm, m["better"], m["bound"])))
        traced = change_runs.get(w, {}).get("traced", {})
        totals = [v["total_s"] for v in c.values() if "total_s" in v]
        for seed, v in sorted(traced.items()):
            if "trace.total_s" in v and totals:
                overheads.append((w, seed, v["trace.total_s"]
                                  - statistics.median(totals)))
    return rows, overheads


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows, overheads = compare(load_runs(argv[1]), load_runs(argv[2]), spec)
    fmt = "{:<14} {:<12} {:>6} {:>30} {:>30} {:>6} {:>6}  {}"
    print(fmt.format("workload", "metric", "unit", "base q1/med/q3",
                     "change q1/med/q3", "pairs", "wins", "verdict"))
    for w, m, r in rows:
        if r is None:
            print(fmt.format(w, m["name"], m["unit"], "-", "-", 0, "-",
                             "missing"))
            continue
        q = lambda t: "/".join(f"{x:.4g}" for x in t)
        print(fmt.format(w, m["name"], m["unit"], q(r["base"]),
                         q(r["change"]), r["pairs"], f"{r['win_frac']:.2f}",
                         r["verdict"]))
    for w, seed, d in overheads:
        print(f"tracing overhead {w} seed {seed}: {d:+.4f} s on total_s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
