#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts (parent first, change second).

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each an artifact file written by run.py or a
directory of them (.bench_build/artifacts). For every workload it prints
each metric's median and quartiles on both sides. End-to-end metrics
(untraced runs) also get a verdict:

  gain        at least 10 pairs, the change wins at least 9 of 10 of them,
              and the medians differ by more than the parent's quartile gap
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's quartile gap, as a share of its median, exceeds
              the bound, and the runs of the two sides overlap
  within      none of the above

Pairs are the i-th runs of each side in time order, so alternate the sides
when running them. Where a side has traced and untraced runs of a workload,
the tracing overhead is the ratio of their op_s_p50 medians.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    arts = [json.load(open(f)) for f in files]
    return sorted(arts, key=lambda a: a["time"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    q1, med_a, q3 = quartiles(a)
    med_b = statistics.median(b)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (med_b - med_a) > q3 - q1:
        return f"gain ({wins}/{len(pairs)} pairs)"
    if sign * (med_a - med_b) > bound * abs(med_a):
        return "regression"
    if (q3 - q1) > bound * abs(med_a):
        if all(sign * (y - x) > 0 for x in a for y in b):
            return "better in every run"
        return "unresolved"
    return f"within bound ({wins}/{len(pairs)} pairs won)"


def values(arts, name):
    return [a["metrics"][name]["value"] for a in arts if name in a["metrics"]]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    for w in sorted({a["workload"] for a in parent + change}):
        for trace in (0, 1):
            pa = [a for a in parent if a["workload"] == w and a["trace"] == trace]
            ch = [a for a in change if a["workload"] == w and a["trace"] == trace]
            if not pa and not ch:
                continue
            print(f"\n== {w}, tracing {'on' if trace else 'off'}: "
                  f"{len(pa)} parent runs, {len(ch)} change runs")
            shas = {a["provenance"].get("git_sha") or a["provenance"]["source_digest"][:12]
                    for a in pa + ch}
            print("   commits/sources: " + ", ".join(sorted(str(s) for s in shas)))
            names = e2e if trace == 0 else layers
            for name, m in names.items():
                a, b = values(pa, name), values(ch, name)
                if not any(a + b):
                    continue  # a layer this workload does not run
                cells = []
                for xs in (a, b):
                    if xs:
                        q1, med, q3 = quartiles(xs)
                        cells.append(f"{med:12.6g} [{q1:.6g}, {q3:.6g}]")
                    else:
                        cells.append(f"{'-':>12s}")
                line = f"   {name:36s} {m['unit']:6s} " + "  ".join(cells)
                if trace == 0 and a and b:
                    line += "  " + verdict(a, b, m["better"], m["bound"])
                print(line)
        for side, arts in (("parent", parent), ("change", change)):
            off = values([a for a in arts if a["workload"] == w and a["trace"] == 0], "op_s_p50")
            on = values([a for a in arts if a["workload"] == w and a["trace"] == 1], "op_s_p50")
            if off and on:
                r = statistics.median(on) / statistics.median(off)
                print(f"   tracing overhead ({side}): op_s_p50 traced/untraced = {r:.3f}")


if __name__ == "__main__":
    main()
