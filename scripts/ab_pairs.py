#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs from two checkouts.

    python3 scripts/ab_pairs.py --parent DIR --change DIR --workload serve \
        --seeds 9921-9930 [--seconds 15] [--trace 0] [--out FILE]

Runs `python3 perfbench/run.py` once in each checkout per seed, the
parent first on even-numbered pairs and the change first on odd ones,
both with the same benchmark settings. Prints each pair's end-to-end
metrics as they arrive, then for every metric: each side's median and
quartiles (statistics.quantiles(values, n=4), as perfbench/spread.py),
how many pairs the change won (ties count for neither side), and
whether the change's gain holds by the rule for a small sandbox: it wins
at least nine tenths of the pairs, and the medians differ by more than
the distance between the parent's quartiles. Which direction is better
comes from the change checkout's BENCHMARK.json. A run that exits
non-zero, prints no summary or reports incorrect answers is listed, and
its pair is left out of the statistics. `--out` also writes every run's
summary as JSON.

Each metric also gets the no-regression verdict against its `bound` in
BENCHMARK.json: "within bound" when the change's median is no worse than
the parent's by more than `bound` (a fraction of the parent's median),
"unresolved" when the parent's quartile spread is wider than `bound`
(unless every change run beats every parent run), else "regression".
For `dedup`, it prints each op's median time, parent -> change, from
the `dedup.op_ms` of each run's record: the newest file in
<checkout>/perfbench/results named for the run's workload, seed and
trace.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, a, seed):
    """One perfbench run in `checkout`: its summary dict, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def op_ms(checkout, a, seed):
    """Per-op ms of the run's record in `checkout`, or None."""
    pat = os.path.join(checkout, "perfbench", "results",
                       f"*-{a.workload}-s{seed}-t{a.trace}-*.json")
    files = sorted(glob.glob(pat), key=os.path.getmtime)
    if not files:
        return None
    with open(files[-1]) as f:
        return json.load(f).get(a.workload, {}).get("op_ms")


def verdict(ps, sign, bound):
    """The no-regression verdict for (parent, change) value pairs."""
    par, chg = [p for p, _ in ps], [c for _, c in ps]
    pq, cq = quartiles(par), quartiles(chg)
    worse = -sign * (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
    if min(sign * c for c in chg) > max(sign * p for p in par):
        return "within bound (every change run beats every parent run)"
    spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
    if spread > bound:
        return f"unresolved (parent quartile spread {spread:.1%} > bound {bound:.0%})"
    if worse > bound:
        return f"regression (median {worse:.1%} worse > bound {bound:.0%})"
    return (f"within bound (median {abs(worse):.1%} {'worse' if worse > 0 else 'better'}, "
            f"bound {bound:.0%})")


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    return tuple(statistics.quantiles(vals, n=4))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 9921-9930 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's summary here as JSON")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    better = {m["name"]: m["better"] for m in e2e}
    bound = {m["name"]: m["bound"] for m in e2e}

    pairs, failed, ops = [], [], []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        dirs = {"parent": a.parent, "change": a.change}
        res = {side: run(dirs[side], a, seed) for side in order}
        bad = [s for s in order if res[s] is None or not res[s].get("correct")]
        vals = {s: {m: v["value"] for m, v in res[s]["metrics"].items()}
                for s in order if res[s] is not None}
        print(f"seed {seed} ({order[0]} first): " + "; ".join(
            f"{m} {vals.get('parent', {}).get(m)} -> {vals.get('change', {}).get(m)}"
            for m in better), flush=True)
        if bad:
            print(f"  not counted: {', '.join(bad)} failed or incorrect", flush=True)
            failed.append(seed)
        else:
            pairs.append((seed, vals))
            if a.workload == "dedup":
                ops.append({side: op_ms(dirs[side], a, seed) or {} for side in order})
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "pairs": [{"seed": s, **v} for s, v in pairs], "failed_seeds": failed},
                      f, indent=1)

    print(f"\n{a.workload}: {len(pairs)} pairs counted, {len(failed)} left out {failed}")
    for m, way in better.items():
        ps = [(v["parent"].get(m), v["change"].get(m)) for _, v in pairs]
        ps = [(p, c) for p, c in ps if p is not None and c is not None]
        if not ps:
            continue
        sign = 1 if way == "higher" else -1
        wins = sum(1 for p, c in ps if sign * (c - p) > 0)
        losses = sum(1 for p, c in ps if sign * (c - p) < 0)
        pq, cq = quartiles([p for p, _ in ps]), quartiles([c for _, c in ps])
        gain = sign * (cq[1] - pq[1])
        holds = wins >= 0.9 * len(ps) and gain > pq[2] - pq[0]
        pct = 100 * (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"  {m} ({way} is better): parent {pq[1]:.4g} ({pq[0]:.4g}-{pq[2]:.4g}), "
              f"change {cq[1]:.4g} ({cq[0]:.4g}-{cq[2]:.4g}), "
              f"change {pct:+.1f}%; change won {wins}/{len(ps)}, "
              f"lost {losses}; gain {'holds' if holds else 'not shown'} "
              f"(median gap {gain:.4g} vs parent quartile spread {pq[2] - pq[0]:.4g}); "
              f"{verdict(ps, sign, bound[m])}")
    names = sorted({op for o in ops for side in o.values() for op in side})
    if names:
        print(f"\n{a.workload} per-op median ms, parent -> change ({len(ops)} pairs):")
    for op in names:
        par = [o["parent"][op] for o in ops if op in o["parent"]]
        chg = [o["change"][op] for o in ops if op in o["change"]]
        if par and chg:
            pm, cm = statistics.median(par), statistics.median(chg)
            print(f"  {op}: {pm:.0f} -> {cm:.0f} ({100 * (cm - pm) / pm:+.1f}%)")


if __name__ == "__main__":
    main()
