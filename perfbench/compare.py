#!/usr/bin/env python3
"""Compare two directories of benchmark results (``.bench_results``).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

For each workload and end-to-end metric, prints both sides' medians and
quartiles and the change's median relative to the parent's.  Runs are
paired by (workload, seed, trace); a pair whose input fingerprints differ
came from another fixture generation, and the comparison is refused.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    out = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        with open(p) as f:
            r = json.load(f)
        out[(r["workload"], r["seed"], r["trace"], r.get("cores", 4))] = r
    return out


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    bad = [k for k in a.keys() & b.keys()
           if a[k]["input_fingerprint"] != b[k]["input_fingerprint"]]
    if bad:
        sys.exit(f"refused: inputs differ for {sorted(bad)} "
                 "(results from different fixture generations)")
    keys = sorted(k for k in a.keys() & b.keys() if not k[2] and k[3] == 4)
    for w in sorted({k[0] for k in keys}):
        ks = [k for k in keys if k[0] == w]
        for m in sorted(a[ks[0]]["line"]["metrics"]):
            pa = [a[k]["line"]["metrics"][m]["value"] for k in ks]
            pb = [b[k]["line"]["metrics"][m]["value"] for k in ks]
            qa, qb = quart(pa), quart(pb)
            print(f"{w:8s} {m:18s} parent {qa[1]:12.3f} [{qa[0]:.3f}, {qa[2]:.3f}]"
                  f"  change {qb[1]:12.3f} [{qb[0]:.3f}, {qb[2]:.3f}]"
                  f"  {qb[1] / qa[1] - 1:+.1%}  (n={len(ks)})")


if __name__ == "__main__":
    main()
