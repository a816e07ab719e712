#!/usr/bin/env python3
"""Compare a parent's and a change's benchmark runs, one row per workload
and end-to-end metric.

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds the standard output of `run.py` runs, one file per
run (any name). A run is identified by the workload and seed in its run
record, so parent and change runs with the same seed form a pair; run the
two sides alternately. Only untraced runs (`--trace 0`) are compared.

Verdicts, per workload and metric, with bounds from BENCHMARK.json:
  gain        the change wins at least 9/10 of the pairs (ties count for
              neither side) and the medians differ by more than the
              parent's interquartile range
  REGRESSION  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's or the change's spread (IQR / median) exceeds
              the bound, unless every change run beats every parent run
  same        none of the above
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(directory):
    """{(workload, seed): metrics} of the untraced runs in `directory`."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        if len(lines) < 2:
            continue
        try:
            rec, res = json.loads(lines[-2]), json.loads(lines[-1])
        except ValueError:
            continue
        if rec.get("trace") != 0:
            continue
        runs[(rec["workload"], rec["seed"])] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Verdict for paired lists (same order) of one metric."""
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    worse = sign * (pm - cm)            # > 0 when the change is worse
    p_spread = (p3 - p1) / abs(pm) if pm else float("inf")
    c_spread = (c3 - c1) / abs(cm) if cm else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pm and worse > bound * abs(pm):
        v = "REGRESSION"
    elif wins >= 0.9 * len(parent) and sign * (cm - pm) > (p3 - p1):
        v = "gain"
    elif max(p_spread, c_spread) > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "wins": wins,
            "pairs": len(parent), "verdict": v}


def compare(parent_runs, change_runs, spec):
    rows = []
    keys = sorted(set(parent_runs) & set(change_runs))
    for wl in sorted({k[0] for k in keys}):
        seeds = [k for k in keys if k[0] == wl]
        for m in spec["end_to_end"]:
            p = [parent_runs[k][m["name"]] for k in seeds]
            c = [change_runs[k][m["name"]] for k in seeds]
            r = verdict(p, c, m["better"], m["bound"])
            r.update(workload=wl, metric=m["name"], unit=m["unit"])
            rows.append(r)
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load_runs(argv[1]), load_runs(argv[2]), spec)
    if not rows:
        print("no paired untraced runs found", file=sys.stderr)
        return 1
    fmt = "{:<16} {:<18} {:>30} {:>30} {:>7} {}"
    print(fmt.format("workload", "metric", "parent q1/median/q3",
                     "change q1/median/q3", "wins", "verdict"))
    for r in rows:
        q = lambda t: "/".join(f"{x:.4g}" for x in t)
        print(fmt.format(r["workload"], f'{r["metric"]} ({r["unit"]})',
                         q(r["parent"]), q(r["change"]),
                         f'{r["wins"]}/{r["pairs"]}', r["verdict"]))
    return 1 if any(r["verdict"] == "REGRESSION" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
