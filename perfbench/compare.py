#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE [BASE ...] --vs NEW [NEW ...]

Each argument is a record file or a directory of them (.bench_out/records).
Records are only compared when their stamps agree: cores, sf dir, run
length, trace mode, input sizes (not their bytes, which vary with the
seed), JVM, heap and benchmark digest must be equal, and the median host canary of the two sides may differ by at most
10%. Commit and seed are recorded but may differ; that is what a
comparison is for. Prints each side's median and quartiles per metric and
flags end-to-end metrics that got worse by more than their bound. The op
tail, which one short run cannot support, is taken over each side's pooled
op latencies.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

SAME = ("cores", "sf_dir", "seconds", "trace", "sizes", "java", "heap", "bench_digest")
CANARY_TOLERANCE = 0.10


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault((r["stamp"]["workload"], r["stamp"]["trace"]), []).append(r)
    return out


def refuse(msg):
    print(f"compare: refused: {msg}")
    sys.exit(2)


def setting(stamp, k):
    """A stamp value that must match; input bytes vary with the seed."""
    v = stamp.get(k)
    return {n: x for n, x in v.items() if n != "bytes"} if k == "sizes" else v


def check_stamps(base, new, key):
    for k in SAME:
        seen = {json.dumps(setting(r["stamp"], k), sort_keys=True) for r in base + new}
        if len(seen) > 1:
            refuse(f"{key[0]} records differ in stamp '{k}': {sorted(seen)}")
    cb = statistics.median(r["stamp"]["host_canary_ms"] for r in base)
    cn = statistics.median(r["stamp"]["host_canary_ms"] for r in new)
    if abs(cn / cb - 1) > CANARY_TOLERANCE:
        refuse(f"{key[0]} host canary moved {cb:.0f} -> {cn:.0f} ms")


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.vs)
    bounds = {n: (b, x) for n, _, b, x in metrics.END_TO_END}
    worse = 0
    for key in sorted(set(base) & set(new)):
        check_stamps(base[key], new[key], key)
        field = "per_layer" if key[1] else "end_to_end"
        print(f"== {key[0]} (trace={key[1]}): {len(base[key])} vs {len(new[key])} runs")
        names = sorted({n for r in base[key] + new[key] for n in r[field]})
        for n in names:
            vb = [r[field][n] for r in base[key] if n in r[field]]
            vn = [r[field][n] for r in new[key] if n in r[field]]
            if not vb or not vn:
                continue
            qb, qn = quartiles(vb), quartiles(vn)
            note = ""
            if n in bounds and qb[1]:
                better, bound = bounds[n]
                change = qn[1] / qb[1] - 1
                spread = (qb[2] - qb[0]) / qb[1]
                if spread > bound:
                    note = "unresolved (base spread above bound)"
                elif (change if better == "lower" else -change) > bound:
                    note = f"WORSE beyond bound {bound}"
                    worse += 1
            ratio = f"{qn[1] / qb[1]:.3f}x" if qb[1] else "-"
            print(f"  {n:40s} {qb[1]:12.5g} [{qb[0]:.5g}, {qb[2]:.5g}]  "
                  f"{qn[1]:12.5g} [{qn[0]:.5g}, {qn[2]:.5g}]  {ratio} {note}")
        if not key[1]:
            # a run has too few ops for a tail; the pooled runs may not
            tails = [metrics.tail([lat for r in side[key] for _, lat in r["ops"]])
                     for side in (base, new)]
            if all(tails):
                print("  op_tail_s (pooled)  " + "  vs  ".join(
                    f"{v:.5g} s (p{p:.1f} of {c} ops)" for v, p, c in tails))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
