#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics in perfbench/results.

    python3 perfbench/spread.py [--since RUN_ID_PREFIX]

Groups the untraced records by workload and prints, for each metric, the
number of runs, the median, and the quartile distance as a share of the
median (statistics.quantiles(values, n=4)), next to the metric's bound
from BENCHMARK.json. Also prints the slowest run's wall time and the
CPU share the host's hypervisor gave to other guests during the runs.
"""
import argparse
import glob
import json
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", default="", help="only records whose run id sorts at or after this")
    a = ap.parse_args()
    bounds = {}
    spec = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    by_workload = {}
    for p in sorted(glob.glob(os.path.join(BENCH, "results", "*-t0-*.json"))):
        if os.path.basename(p) < a.since:
            continue
        with open(p) as f:
            r = json.load(f)
        by_workload.setdefault(r["workload"], []).append(r)
    for w, runs in sorted(by_workload.items()):
        bad = sum(1 for r in runs if not r.get("correct"))
        steal = [r["host_steal_share"] for r in runs if r.get("host_steal_share") is not None]
        print(f"{w}: {len(runs)} runs, {bad} not correct, "
              f"slowest run {max(r['run_s'] for r in runs):.1f} s"
              + (f", host steal share median {statistics.median(steal):.3f} max {max(steal):.3f}"
                 if steal else ""))
        for m in runs[0]["end_to_end"]:
            vals = [r["end_to_end"][m] for r in runs if r["end_to_end"].get(m) is not None]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med if med else float("nan")
            b = bounds.get(m)
            flag = "" if b is None else ("  ok (< bound/3)" if share < b / 3 else
                                         "  within bound" if share <= b else "  OVER BOUND")
            print(f"  {m:12s} n={len(vals):2d} median={statistics.median(vals):12.4f} "
                  f"iqr/median={share:.4f} bound={b}{flag}")


if __name__ == "__main__":
    main()
