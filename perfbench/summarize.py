#!/usr/bin/env python3
"""Summarize the results of earlier runs kept under perfbench/.cache/results.

    python3 perfbench/summarize.py [--size full|tiny]

For every workload and trace mode: the number of runs, and per end-to-end
metric the median, the quartiles and the spread (interquartile distance as
a share of the median, from statistics.quantiles(values, n=4)). Where a
workload has both untraced and traced runs, the tracing overhead is the
traced median minus the untraced median.
"""
import argparse
import glob
import json
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", default="full")
    a = ap.parse_args()
    runs = {}
    for path in glob.glob(os.path.join(BENCH, ".cache", "results", f"*-{a.size}-*-trace*.json")):
        with open(path) as f:
            r = json.load(f)
        trace = int(path.rsplit("trace", 1)[1].split(".")[0])
        runs.setdefault((r["workload"], trace), []).append(r["end_to_end"])
    medians = {}
    for (wl, trace), rs in sorted(runs.items()):
        print(f"{wl} trace={trace} runs={len(rs)}")
        for m in sorted(rs[0]):
            vals = [r[m] for r in rs]
            med = statistics.median(vals)
            medians[(wl, trace, m)] = med
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                print(f"  {m:18s} median={med:10.4f} q1={q1:10.4f} q3={q3:10.4f}"
                      f" spread={(q3 - q1) / med:.3f}")
            else:
                print(f"  {m:18s} value={med:10.4f}")
    for (wl, trace, m), med in sorted(medians.items()):
        if trace == 1 and (wl, 0, m) in medians:
            print(f"tracing overhead {wl} {m}: {med - medians[(wl, 0, m)]:+.4f}")


if __name__ == "__main__":
    main()
