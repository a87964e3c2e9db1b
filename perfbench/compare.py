#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <A files or dirs> -- <B files or dirs>

Each side is a list of result files written by perfbench/run.py
(perfbench/.work/out/<workload>_s<seed>_t0.json) or directories holding
them; traced results (_t1) are skipped. Prints one row per (workload,
end-to-end metric), the per-workload user metrics and
`failed_ops_frac` included:
each side's median and quartiles, the number of A/B pairs (runs with
the same seed on both sides, which should have been run alternately),
the share of pairs B won, and a verdict:

- `better` / `worse`: B wins (loses) at least 9 in 10 pairs and the
  medians differ by more than A's own interquartile distance;
- `unresolved`: either side's interquartile distance, as a share of its
  median, is wider than the metric's bound (from BENCHMARK.json) and
  not every B run reads better than every A run;
- `same`: none of the above.
"""
import glob
import json
import os
import statistics
import sys

from run import BENCH, DETAIL

DETAIL_BETTER = {k: better for k, (_, better) in DETAIL.items()}


def load(args):
    out = {}
    for a in args:
        files = glob.glob(os.path.join(a, "*_t0.json")) if os.path.isdir(a) else [a]
        for f in files:
            r = json.load(open(f))
            if r.get("trace"):
                continue
            vals = dict(r.get("e2e", {}))
            vals.update({k: v for k, v in r.get("detail", {}).items()
                         if k in DETAIL_BETTER})
            if "checks" in r:
                vals["failed_ops_frac"] = r["checks"]["failed_ops_frac"]
            out.setdefault(r["workload"], {})[r["seed"]] = vals
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    a, b = load(argv[:cut]), load(argv[cut + 1:])
    spec = {}
    bj = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if os.path.exists(bj):
        spec = {m["name"]: m for m in json.load(open(bj))["end_to_end"]}
    print(f"{'workload':<14}{'metric':<28}{'A q1/med/q3':>32}{'B q1/med/q3':>32}"
          f"{'pairs':>6}{'B won':>7}  verdict")
    for w in sorted(set(a) & set(b)):
        metrics = sorted({m for s in a[w].values() for m in s})
        for m in metrics:
            better = spec.get(m, {}).get("better", DETAIL_BETTER.get(m, "lower"))
            bound = spec.get(m, {}).get("bound", 0.25)
            av = [s[m] for s in a[w].values() if m in s]
            bv = [s[m] for s in b[w].values() if m in s]
            if not av or not bv:
                continue
            (a1, am, a3), (b1, bm, b3) = quartiles(av), quartiles(bv)
            seeds = sorted(set(a[w]) & set(b[w]))
            pairs = [(a[w][s][m], b[w][s][m]) for s in seeds
                     if m in a[w][s] and m in b[w][s]]
            sign = 1 if better == "higher" else -1
            won = sum(1 for x, y in pairs if sign * (y - x) > 0)
            lost = sum(1 for x, y in pairs if sign * (y - x) < 0)
            share = won / len(pairs) if pairs else float("nan")
            wide = any((q3 - q1) / abs(med) > bound
                       for q1, med, q3 in ((a1, am, a3), (b1, bm, b3)) if med)
            all_better = min(sign * y for y in bv) > max(sign * x for x in av)
            gap = abs(bm - am) > (a3 - a1)
            if pairs and won >= 0.9 * len(pairs) and gap:
                verdict = "better"
            elif pairs and lost >= 0.9 * len(pairs) and gap:
                verdict = "worse"
            elif wide and not all_better:
                verdict = "unresolved"
            else:
                verdict = "same"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{w:<14}{m:<28}{fmt((a1, am, a3)):>32}{fmt((b1, bm, b3)):>32}"
                  f"{len(pairs):>6}{share:>7.2f}  {verdict}")


if __name__ == "__main__":
    main(sys.argv[1:])
