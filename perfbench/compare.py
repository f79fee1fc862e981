#!/usr/bin/env python3
"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are record files or directories of them (as `run.py`
writes under `.bench_build/records/`). For each workload and each
end-to-end metric of the untraced records it prints both sides'
median of run medians, their quartiles, and a verdict:

  better / worse   the medians differ by more than the bound (the
                   metric's `bound` in BENCHMARK.json) and by more than
                   the base's own spread (quartile distance)
  within bound     the medians differ by no more than the bound
  unresolved       a side's spread is wider than the bound and the runs
                   of the two sides overlap

Metrics that BENCHMARK.json does not list (the churn-only ones) get
the largest bound it allows, 0.25. When a base median is 0 the change
is shown in absolute terms, and any change is better or worse. Failed
operations gate the comparison: `fail_ratio` is worse whenever the new
side fails a larger share of its operations, and then no other metric
of that workload can be better (a query that throws fast lowers the
times); the line says "not counted" and the failed operations are
listed. Records from machines or data that differ in cores, heap or
table sizes are refused.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BOUND = 0.25


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0 and not r.get("narrowed"):
            out.append(r)
    return out


def same_box(a, b):
    keys = ("nproc", "slots", "xmx_mb", "data")
    fa = {k: a["fingerprint"][k] for k in keys}
    fb = {k: b["fingerprint"][k] for k in keys}
    return fa == fb, fa, fb


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(base, new, bound, lower_better):
    """(verdict, change, change shown); change > 0: the new side is worse."""
    mb, mn = statistics.median(base), statistics.median(new)
    sign = 1 if lower_better else -1
    if not mb:
        d = sign * (mn - mb)
        return ("worse" if d > 0 else "better" if d < 0 else "within bound"), d, f"{mn - mb:+.4g} abs"
    rel = sign * (mn - mb) / mb
    shown = f"{rel:+.1%}"
    spread = max((q[1] - q[0]) / statistics.median(xs) if statistics.median(xs) else 0.0
                 for xs in (base, new) for q in [quartiles(xs)])
    separated_better = all(sign * (n - b) < 0 for n in new for b in base)
    separated_worse = all(sign * (n - b) > 0 for n in new for b in base)
    if spread > bound and not (separated_better or separated_worse):
        return "unresolved", rel, shown
    base_iqr = (quartiles(base)[1] - quartiles(base)[0]) / mb
    if rel > bound and rel > base_iqr:
        return "worse", rel, shown
    if -rel > bound and -rel > base_iqr:
        return "better", rel, shown
    return "within bound", rel, shown


def failures(records):
    """Failed and attempted operations over a side's records, and the
    names of the failed operations."""
    names = sorted({n for r in records for n in r["failed_ops"]})
    return sum(r["failed"] for r in records), sum(r["attempted"] for r in records), names


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    if not base or not new:
        sys.exit("no untraced records on one side")
    for r in base[1:] + new:
        ok, fa, fb = same_box(base[0], r)
        if not ok:
            sys.exit(f"refusing to compare records from different machines or data:\n {fa}\n {fb}")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    print(f"{'workload':8} {'metric':18} {'unit':6} {'base median [p25, p75] n':>34} "
          f"{'new median [p25, p75] n':>34} {'change':>10}  verdict")
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        rb = [r for r in base if r["workload"] == w]
        rn = [r for r in new if r["workload"] == w]
        (fb, ab, nb), (fn, an, nn) = failures(rb), failures(rn)
        more_failures = fn * ab > fb * an
        for side, f, a, names in (("base", fb, ab, nb), ("new", fn, an, nn)):
            if f:
                print(f"{w:8} {side} side failed {f} of {a} operations: {', '.join(names)}")
        for m in rb[0]["end_to_end"]:
            xb = [r["end_to_end"][m]["median"] for r in rb if m in r["end_to_end"]]
            xn = [r["end_to_end"][m]["median"] for r in rn if m in r["end_to_end"]]
            if not xb or not xn:
                continue
            s = spec.get(m, {})
            v, rel, shown = verdict(xb, xn, s.get("bound", DEFAULT_BOUND),
                                    s.get("better", "lower") == "lower")
            if m == "fail_ratio" and more_failures:
                v = "worse"
            elif v == "better" and more_failures:
                v = "not counted: the new side fails more operations"

            def cell(xs):
                q = quartiles(xs)
                return f"{statistics.median(xs):.4g} [{q[0]:.4g}, {q[1]:.4g}] {len(xs)}"
            print(f"{w:8} {m:18} {rb[0]['end_to_end'][m]['unit']:6} {cell(xb):>34} {cell(xn):>34} "
                  f"{shown:>10}  {v}")


if __name__ == "__main__":
    main()
