#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/diff.py <base> <new> [--benchmark BENCHMARK.json]

Each side is a directory of run records as `run.py` leaves them in
`.bench_work/results/` (one `<workload>.<seed>.t<trace>.json` per run), or
a JSON-lines file of such records. For every workload x end-to-end metric
it prints both medians with their quartiles, the change, and a verdict
against the metric's bound from BENCHMARK.json:

  worse / better   the medians differ by more than the bound
  unchanged        within the bound, and both sides' spread is within it
  unresolved       a side's spread (quartile distance / median) exceeds the
                   bound, unless every run of one side beats every run of
                   the other

Then it ranks the per-layer metrics of the traced runs by relative change.
"""
import argparse
import glob
import json
import os
import statistics


def load(path):
    if os.path.isdir(path):
        recs = []
        for f in sorted(glob.glob(os.path.join(path, "*.t[01].json"))):
            with open(f) as fh:
                recs.append(json.load(fh))
        return recs
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def series(recs, workload, trace, key, metric):
    return [r[key][metric] for r in recs
            if r["workload"] == workload and r["trace"] == trace
            and r.get(key) and metric in r[key]]


def verdict(base, new, bound, lower_is_better):
    bq1, bm, bq3 = quartiles(base)
    nq1, nm, nq3 = quartiles(new)
    sign = 1 if lower_is_better else -1
    change = sign * (nm - bm) / bm  # > 0 means worse
    spread = max((bq3 - bq1) / bm, (nq3 - nq1) / nm if nm else 0.0)
    if spread > bound:
        if all(sign * n < sign * b for n in new for b in base):
            return "better (every run)", change
        if all(sign * n > sign * b for n in new for b in base):
            return "worse (every run)", change
        return f"unresolved (spread {spread:.1%})", change
    if change > bound:
        return "worse", change
    if change < -bound:
        return "better", change
    return "unchanged", change


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    base, new = load(a.base), load(a.new)
    print(f"{'workload':18} {'metric':12} {'base median [q1,q3]':>26} "
          f"{'new median [q1,q3]':>26} {'change':>8} {'bound':>6}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            b = series(base, w, 0, "end_to_end", m["name"])
            n = series(new, w, 0, "end_to_end", m["name"])
            if not b or not n:
                continue
            v, change = verdict(b, n, m["bound"], m["better"] == "lower")
            bq, nq = quartiles(b), quartiles(n)
            print(f"{w:18} {m['name']:12} "
                  f"{bq[1]:>9.4g} [{bq[0]:.4g},{bq[2]:.4g}] (n={len(b)}) "
                  f"{nq[1]:>9.4g} [{nq[0]:.4g},{nq[2]:.4g}] (n={len(n)}) "
                  f"{change:>+8.1%} {m['bound']:>6.0%}  {v}")
    print("\nper-layer changes (traced runs, medians), largest first:")
    rows = []
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["per_layer"]:
            b = series(base, w, 1, "per_layer", m["name"])
            n = series(new, w, 1, "per_layer", m["name"])
            if not b or not n:
                continue
            bm, nm = statistics.median(b), statistics.median(n)
            rel = (nm - bm) / abs(bm) if bm else (0.0 if nm == bm else float("inf"))
            rows.append((abs(rel), w, m["name"], bm, nm, rel, m["unit"]))
    for _, w, name, bm, nm, rel, unit in sorted(rows, key=lambda r: -r[0]):
        print(f"{w:18} {name:34} {bm:>12.4g} -> {nm:<12.4g} {unit:6} {rel:>+8.1%}")


if __name__ == "__main__":
    main()
