#!/usr/bin/env python3
"""Compare two sets of benchmark results, such as a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the result files run.py writes (--results DIR). For
every workload and metric found on both sides it prints each side's median
and quartiles, the share of paired runs the change wins (runs pair by seed,
else by the order they ran; ties count for neither side), the failed-op
share of each side, and a verdict:

  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  unresolved  a side's quartile spread, as a share of its median, exceeds
              the bound, and not every change run beats every parent run
  same        none of the above

Metrics without a bound (the per-layer metrics and the workload's own named
metrics) get a median, quartiles and win share but no verdict.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# named metrics where higher is better; every other named metric is a cost
NAMED_HIGHER = {"queries_per_s", "ops_per_s", "batch_qps", "docs_per_s",
                "ivf_recall_at_10", "hnsw_recall_at_10", "dup_recall"}


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        r["_file"] = os.path.basename(f)
        runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, workload, trace, key, name):
    out = []
    for r in runs:
        if r["workload"] == workload and r["trace"] == trace and name in r.get(key, {}):
            v = r[key][name]
            out.append((r["seed"], r["_file"], v["value"] if isinstance(v, dict) else v))
    return out


def pair(a, b):
    """Pairs of (parent, change) values: by seed where both sides have it,
    otherwise by the order the runs were made."""
    by_seed_a = {s: v for s, _, v in a}
    by_seed_b = {s: v for s, _, v in b}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if common:
        return [(by_seed_a[s], by_seed_b[s]) for s in common]
    return list(zip([v for _, _, v in sorted(a, key=lambda t: t[1])],
                    [v for _, _, v in sorted(b, key=lambda t: t[1])]))


def fmt(x):
    return "%.4g" % x


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better_of = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    print("%-12s %-5s %-34s %-26s %-26s %6s  %s" % (
        "workload", "trace", "metric", "parent q1/median/q3", "change q1/median/q3",
        "wins", "verdict"))
    for w in workloads:
        for side, runs in (("parent", parent), ("change", change)):
            rs = [r for r in runs if r["workload"] == w]
            ops = sum(r["ops"] for r in rs)
            failed = sum(r["ops_failed"] for r in rs)
            print("%-12s %s: %d runs, failed ops %d of %d (%.2f%%)" % (
                w, side, len(rs), failed, ops, 100.0 * failed / max(1, ops)))
        for trace, key in ((0, "end_to_end"), (0, "metrics"), (1, "layers")):
            names = []
            for r in parent + change:
                if r["workload"] == w and r["trace"] == trace:
                    names += [n for n in r.get(key, {}) if n not in names]
            for name in names:
                a = values(parent, w, trace, key, name)
                b = values(change, w, trace, key, name)
                if not a or not b:
                    continue
                qa, qb = quartiles([v for *_, v in a]), quartiles([v for *_, v in b])
                higher = better_of.get(name) == "higher" or name in NAMED_HIGHER
                pairs = pair(a, b)
                wins = sum((y > x) if higher else (y < x) for x, y in pairs)
                share = wins / len(pairs) if pairs else 0.0
                verdict = ""
                if key == "end_to_end" and name in bounds:
                    bound = bounds[name]["bound"]
                    worse = (qa[1] - qb[1]) / qa[1] if higher else (qb[1] - qa[1]) / qa[1]
                    spread = max((qa[2] - qa[0]) / qa[1] if qa[1] else 0.0,
                                 (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0)
                    all_better = all(((y > x) if higher else (y < x))
                                     for x in (v for *_, v in a) for y in (v for *_, v in b))
                    if worse > bound:
                        verdict = "worse (%+.1f%%, bound %.0f%%)" % (100 * worse, 100 * bound)
                    elif share >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
                        verdict = "better (%+.1f%%)" % (-100 * worse)
                    elif spread > bound and not all_better:
                        verdict = "unresolved (spread %.1f%% > bound %.0f%%)" % (
                            100 * spread, 100 * bound)
                    else:
                        verdict = "same"
                print("%-12s %-5d %-34s %-26s %-26s %5.0f%%  %s" % (
                    w, trace, name, "/".join(fmt(x) for x in qa),
                    "/".join(fmt(x) for x in qb), 100 * share, verdict))


if __name__ == "__main__":
    main()
