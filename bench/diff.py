#!/usr/bin/env python3
"""Compare two benchmark result files (the results.jsonl that bench/run.py
appends to, one JSON record per run):

    python3 bench/diff.py BEFORE.jsonl AFTER.jsonl
    python3 bench/diff.py RESULTS.jsonl           # one side only

For each workload and end-to-end metric it prints the median and quartiles
of each side over its untraced runs, and the change of the median. A
metric whose spread between runs (quartile distance over median, on either
side) exceeds its bound in BENCHMARK.json is marked unresolved, unless
every run of one side beats every run of the other. Below that come the
per-layer medians of the traced runs, and each side's tracing overhead:
the traced median of latency_s.p50 against the untraced one.
"""
import json
import os
import statistics
import sys


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def num(x):
    return "-" if x is None else f"{float(x):.6g}"


def values(records, workload, trace, section, name):
    return [r[section][name] for r in records
            if r["workload"] == workload and r["trace"] == trace
            and isinstance(r[section].get(name), (int, float))]


def verdict(a, b, bound, lower_better):
    if not a or not b:
        return "missing"
    sign = 1 if lower_better else -1
    if all(sign * (y - x) < 0 for x in a for y in b):
        return "better"
    if all(sign * (y - x) > 0 for x in a for y in b) and \
            sign * (statistics.median(b) / statistics.median(a) - 1) > bound:
        return "worse"
    if max(spread(a), spread(b)) > bound:
        return "unresolved"
    change = sign * (statistics.median(b) / statistics.median(a) - 1)
    return "worse" if change > bound else "within bound"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    before = load(sys.argv[1])
    after = load(sys.argv[2]) if len(sys.argv) == 3 else []
    spec_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    fmt = "{:<22} {:>30} {:>30} {:>9}  {}"
    for wl in workloads:
        print(f"== {wl}")
        print(fmt.format("metric", "before q1/median/q3 (n)", "after q1/median/q3 (n)",
                         "delta", "verdict"))
        for m in spec["end_to_end"]:
            a = values(before, wl, 0, "end_to_end", m["name"])
            b = values(after, wl, 0, "end_to_end", m["name"])

            def side(xs):
                if not xs:
                    return "-"
                q1, med, q3 = quartiles(xs)
                return f"{q1:.4g}/{med:.4g}/{q3:.4g} ({len(xs)})"
            delta = (f"{statistics.median(b) / statistics.median(a) - 1:+.1%}"
                     if a and b and statistics.median(a) else "-")
            print(fmt.format(m["name"], side(a), side(b), delta,
                             verdict(a, b, m["bound"], m["better"] == "lower") if after else
                             f"spread {spread(a):.3f} (bound {m['bound']})" if a else "-"))
        names = sorted({k for r in before + after
                        if r["workload"] == wl and r["trace"] == 1
                        for k, v in r["per_layer"].items() if isinstance(v, (int, float))})
        names += sorted({k for r in before + after
                         if r["workload"] == wl and r["trace"] == 1
                         for k, v in r["detail"].items() if isinstance(v, (int, float))})
        if names:
            print(f"   per layer (traced runs, medians)")
        for k in names:
            section = "per_layer" if any(k in r["per_layer"] for r in before + after) else "detail"
            a = values(before, wl, 1, section, k)
            b = values(after, wl, 1, section, k)
            ma = statistics.median(a) if a else None
            mb = statistics.median(b) if b else None
            delta = f"{mb / ma - 1:+.1%}" if ma and mb is not None else "-"
            print(f"   {k:<40} {num(ma):>14} {num(mb):>14} {delta:>9}")
        for label, recs in (("before", before), ("after", after)):
            untraced = values(recs, wl, 0, "end_to_end", "latency_s.p50")
            traced = values(recs, wl, 1, "per_layer", "traced.latency_s.p50")
            if untraced and traced:
                u, t = statistics.median(untraced), statistics.median(traced)
                print(f"   tracing overhead ({label}): latency_s.p50 {u:.4g} s untraced, "
                      f"{t:.4g} s traced, {t / u - 1:+.1%}")


if __name__ == "__main__":
    main()
