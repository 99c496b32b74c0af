#!/usr/bin/env python3
"""Per-workload layer table from traced runs.

    python3 graftbench/layers.py [TRACE_DIR]

Reads the `<workload>-seed<n>.summary.json` files that traced runs
(`run.py --trace 1`) write to `.bench_build/traces`, and prints, per
workload, the median over seeds of each layer's self time: per timed pass,
during set-up, and in the `functions` micro-phase. Each layer should do
most of its work in one workload and little in another.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LAYERS = ["bench", "session", "inputs", "tables", "etl", "quality", "queries", "operators",
          "functions", "spark"]


def load(trace_dir):
    runs = {}
    for path in sorted(glob.glob(os.path.join(trace_dir, "*.summary.json"))):
        with open(path) as fh:
            s = json.load(fh)
        runs.setdefault(s["workload"], []).append(s)
    return runs


def med(runs, key, layer):
    return statistics.median(r[key].get(layer, 0.0) for r in runs)


def table(title, runs, key):
    names = sorted(runs)
    rows = [(l, [med(runs[w], key, l) for w in names]) for l in LAYERS]
    rows = [(l, v) for l, v in rows if any(x > 0 for x in v)]
    if not rows:
        return
    totals = [sum(v[i] for _, v in rows) for i in range(len(names))]
    print("\n%s (self seconds, share of the column)\n" % title)
    print("| layer | " + " | ".join(names) + " |")
    print("|---|" + "---|" * len(names))
    for l, v in rows:
        cells = ["%.3f (%2.0f%%)" % (x, 100 * x / t if t else 0) for x, t in zip(v, totals)]
        print("| %s | %s |" % (l, " | ".join(cells)))


def main():
    trace_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(HERE), ".bench_build", "traces")
    runs = load(trace_dir)
    if not runs:
        print("no traced runs under %s (run graftbench/run.py --trace 1 first)" % trace_dir)
        return 1
    names = sorted(runs)
    print("traced runs: " + ", ".join("%s x%d" % (w, len(runs[w])) for w in names))
    table("Per timed pass", runs, "self_s_per_pass")
    table("Set-up, per repetition", runs, "setup_self_s")
    table("functions micro-phase", runs, "functions_phase_self_s")
    print("\n| workload | pass_s | trace overhead |")
    print("|---|---|---|")
    for w in names:
        print("| %s | %.3f | %+.1f%% |" % (
            w, statistics.median(r["pass_s"] for r in runs[w]),
            100 * statistics.median(r["trace_overhead"] for r in runs[w])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
