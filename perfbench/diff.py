#!/usr/bin/env python3
"""Compare two sets of benchmark results, layer by layer.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are result files written by run.py (.bench_build/perfbench/
results/<workload>-seed<n>-trace<t>.json) or directories of them. Runs of
the same workload are pooled and reduced to medians. For each workload the
tool prints every end-to-end metric's median change against its bound in
BENCHMARK.json (a change worse than the bound is marked REGRESSION), then
the per-layer metrics (traced runs) and per-layer self times that moved
most.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
TOP = 12  # per-layer metrics and self times listed per workload


def load(path):
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.json")))
    runs = {}
    for f in files:
        if f.endswith(".raw.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if "end_to_end" in r:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def medians(runs, section):
    keys = sorted({k for r in runs for k in r.get(section, {})})
    out = {}
    for k in keys:
        vals = [r[section][k] for r in runs if isinstance(r[section].get(k), (int, float))]
        if vals:
            out[k] = statistics.median(vals)
    return out


def bounds():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec.get("end_to_end", [])}


def rel(a, b):
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    spec = bounds()
    for wl in sorted(set(base) & set(new)):
        b_runs, n_runs = base[wl], new[wl]
        b_un = [r for r in b_runs if not r["facts"].get("trace")]
        n_un = [r for r in n_runs if not r["facts"].get("trace")]
        print(f"== {wl}: {len(b_runs)} base runs, {len(n_runs)} new runs")
        if b_un and n_un:
            bm, nm = medians(b_un, "end_to_end"), medians(n_un, "end_to_end")
            print(f"  {'end-to-end metric':24s} {'base':>12s} {'new':>12s} {'change':>9s} {'bound':>7s}")
            for k in sorted(set(bm) & set(nm)):
                m = spec.get(k, {})
                worse = rel(bm[k], nm[k]) * (1 if m.get("better", "lower") == "lower" else -1)
                flag = "REGRESSION" if "bound" in m and worse > m["bound"] else ""
                bound = f"{m['bound']:.0%}" if "bound" in m else "-"
                print(f"  {k:24s} {bm[k]:12.4f} {nm[k]:12.4f} {rel(bm[k], nm[k]):+9.1%} {bound:>7s} {flag}")
            bd, nd = medians(b_un, "detail"), medians(n_un, "detail")
            for k in sorted(set(bd) & set(nd)):
                print(f"  {k:24s} {bd[k]:12.4f} {nd[k]:12.4f} {rel(bd[k], nd[k]):+9.1%}")
        b_tr = [r for r in b_runs if r["facts"].get("trace")]
        n_tr = [r for r in n_runs if r["facts"].get("trace")]
        if b_tr and n_tr:
            for section, title in (("per_layer", "per-layer metric"),
                                   ("self_times_s_per_pass", "self time (s/pass)")):
                bm, nm = medians(b_tr, section), medians(n_tr, section)
                moved = sorted(((k, bm.get(k, 0.0), nm.get(k, 0.0)) for k in set(bm) | set(nm)),
                               key=lambda t: -abs(t[2] - t[1]) / max(abs(t[1]), abs(t[2]), 1e-9))
                moved = [t for t in moved if t[1] != t[2]][:TOP]
                print(f"  {title:40s} {'base':>14s} {'new':>14s} {'change':>9s}")
                for k, x, y in moved:
                    print(f"  {k:40s} {x:14.4f} {y:14.4f} {rel(x, y):+9.1%}")


if __name__ == "__main__":
    main()
