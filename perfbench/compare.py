"""Compare two sets of benchmark runs (directories of run records).

For each workload and end-to-end metric it prints each side's median and
quartiles, the pair wins of B over A (runs paired by seed, else by order),
and a verdict: "better" or "worse" when the medians differ by more than the
metric's bound, "unresolved" when either side's spread is wider than the
bound, else "same". From the traced online_kernels runs, whose catalog
section runs the catalog queries, it adds the geometric mean over the full
per-query map of median query times.
"""
import glob
import json
import os

import metrics
import stats


def load(d):
    """Run records of a directory: (untraced runs, traced runs) by workload."""
    runs, traced = {}, {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*.json"), recursive=True)):
        with open(p) as f:
            r = json.load(f)
        if "end_to_end" in r:
            (traced if r.get("trace") == 1 else runs).setdefault(r["workload"], []).append(r)
    return runs, traced


def paired(a, b):
    """Values of a and b paired by seed where both sides ran it, else by order."""
    sa = {r["seed"]: r for r in a}
    common = [s for s in sorted(sa) if s in {r["seed"] for r in b}]
    if common:
        sb = {r["seed"]: r for r in b}
        return [sa[s] for s in common], [sb[s] for s in common]
    n = min(len(a), len(b))
    return a[:n], b[:n]


def verdict(va, vb, better, bound):
    if stats.spread(va) > bound or stats.spread(vb) > bound:
        return "unresolved"
    ma, mb = stats.median(va), stats.median(vb)
    change = (mb - ma) / ma if ma else 0.0
    if better == "higher":
        change = -change
    if change > bound:
        return "worse"
    if change < -bound:
        return "better"
    return "same"


def query_geomean(runs):
    per_query = {}
    for r in runs:
        for k, v in r["layers"].items():
            if k.startswith("queries.") and k.endswith(".ms") and k.count(".") == 2:
                per_query.setdefault(k, []).append(v)
    return stats.geomean([stats.median(v) for v in per_query.values()]), len(per_query)


def main(dir_a, dir_b):
    (A, TA), (B, TB) = load(dir_a), load(dir_b)
    fmt = "{:<15} {:<12} {:>12} {:>12} {:>12} {:>12} {:>9} {:>11}"
    print(fmt.format("workload", "metric", "A median", "A q1-q3", "B median", "B q1-q3",
                     "B wins", "verdict"))
    for w in metrics.WORKLOADS:
        if w not in A or w not in B:
            print(f"{w}: runs missing on {'A' if w not in A else 'B'}")
            continue
        ra, rb = paired(A[w], B[w])
        for name, _, better, bound in metrics.END_TO_END:
            va = [r["end_to_end"][name] for r in A[w]]
            vb = [r["end_to_end"][name] for r in B[w]]
            qa, qb = stats.quartiles(va), stats.quartiles(vb)
            bw, aw, n = stats.pair_wins([r["end_to_end"][name] for r in ra],
                                        [r["end_to_end"][name] for r in rb], better)
            print(fmt.format(w, name, f"{qa[1]:.4g}", f"{qa[0]:.4g}-{qa[2]:.4g}", f"{qb[1]:.4g}",
                             f"{qb[0]:.4g}-{qb[2]:.4g}", f"{bw}/{n}",
                             verdict(va, vb, better, bound)))
    (ga, na), (gb, nb) = (query_geomean([r for rs in T.values() for r in rs]) for T in (TA, TB))
    if na and nb:
        print(f"catalog section: geomean of per-query medians A {ga:.1f} ms over {na} queries, "
              f"B {gb:.1f} ms over {nb} queries ({(gb / ga - 1) * 100 if ga else 0:+.1f}%)")
