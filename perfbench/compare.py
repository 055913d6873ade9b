#!/usr/bin/env python3
"""Compare two sets of benchmark runs: engine counters first, then times.

    python3 perfbench/compare.py <before> <after>

<before> and <after> are run records written by run.py
(perfbench/.work/out/<workload>-<seed>-trace<0|1>.json), or directories
of them; records are paired by (workload, seed, trace). Copy a set aside
before running the other commit, since run.py overwrites its records.

For each workload the counters (per-layer metrics whose unit is a count,
bytes or rows, traced runs only) are diffed first. Counters repeat exactly
between runs of the same code on the same seed, so a changed counter is
a code signal. Then the times: an end-to-end median that moved by more
than its `bound` in BENCHMARK.json, or a per-layer median time that moved
by more than LAYER_TIME_BOUND, is listed; if every counter stayed
identical it is reported as host noise, not as a change of the program.
"""
import argparse
import glob
import json
import os
import statistics

COUNT_UNITS = {"count", "bytes", "rows/row", "rows/query"}
# Per-layer times have no bound of their own; they spread more between
# runs than the end-to-end metrics, so they get the largest one.
LAYER_TIME_BOUND = 0.25


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        r = json.load(open(f))
        out[(r["workload"], r["seed"], r["trace"])] = r
    return out


def units(root):
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["per_layer"]},
            {m["name"]: m["bound"] for m in spec["end_to_end"]})


def med(rs, field, name):
    vals = [r[field][name] for r in rs if name in r.get(field, {})]
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    layer_units, bounds = units(root)
    A, B = load(a.before), load(a.after)
    keys = sorted(set(A) & set(B))
    if not keys:
        raise SystemExit("no runs in common (pair by workload, seed, trace)")
    for w in sorted({k[0] for k in keys}):
        ra = [A[k] for k in keys if k[0] == w]
        rb = [B[k] for k in keys if k[0] == w]
        print(f"== {w}: {len(ra)} paired runs, seeds {sorted({k[1] for k in keys if k[0] == w})}")
        traced = [(A[k], B[k]) for k in keys if k[0] == w and k[2] == 1]
        changed = []
        for x, y in traced:
            for name, unit in layer_units.items():
                u, v = x["per_layer"].get(name), y["per_layer"].get(name)
                if unit in COUNT_UNITS and u != v:
                    changed.append((name, x["seed"], u, v))
        if not traced:
            print("   counters: no traced pair (run with --trace 1 on both sides)")
        elif changed:
            print(f"   counters: {len(changed)} changed -> code signal")
            for name, seed, u, v in changed:
                print(f"     {name:40s} seed {seed}: {u} -> {v}")
        else:
            print("   counters: identical")
        for field, limits in (("end_to_end", bounds),
                              ("per_layer", {n: LAYER_TIME_BOUND for n, u in layer_units.items()
                                             if u not in COUNT_UNITS})):
            for name, bound in limits.items():
                u, v = med(ra, field, name), med(rb, field, name)
                if not u or v is None:
                    continue
                rel = v / u - 1
                if abs(rel) <= bound:
                    continue
                if traced and not changed:
                    verdict = "host noise (counters identical)"
                elif changed:
                    verdict = "with changed counters"
                else:
                    verdict = "counters unknown"
                print(f"   {field}.{name:34s} {u:12.6g} -> {v:12.6g} ({rel:+.1%})  {verdict}")


if __name__ == "__main__":
    main()
