#!/usr/bin/env python3
"""Summarises one set of benchmark runs, or compares two.

    python3 perfbench/compare.py runs/parent.jsonl [runs/change.jsonl]

Input files hold one JSON line per run, as sweep.py writes them. For each workload
and metric it prints the median, the quartiles and the spread (distance between the
quartiles as a share of the median). Given two sets, it also classifies each
end-to-end metric against its bound in BENCHMARK.json:

  regressed   the second median is worse than the first by more than the bound
  improved    the second median is better by more than the first set's spread
  unchanged   neither, with both spreads within the bound
  unresolved  a spread is wider than the bound (unless every run of the second set
              beats, or loses to, every run of the first)

It also lists, per workload, the per-layer counters that repeat exactly across the
traced runs of one seed, and the tracing overhead (traced trace.wall_s minus
untraced wall_s) when a set holds both kinds of run.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m for m in SPEC["per_layer"]}


def load(path):
    """{(workload, trace): [result, ...]} and {(workload, seed): [per-layer result, ...]}."""
    runs, by_seed = defaultdict(list), defaultdict(list)
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        res = rec.get("result")
        if not res:
            print(f"{path}: {rec['workload']} seed {rec['seed']} trace {rec['trace']} printed no result")
            continue
        runs[(rec["workload"], rec["trace"])].append(res)
        if rec["trace"] == 1:
            by_seed[(rec["workload"], rec["seed"])].append(res)
    return runs, by_seed


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def values(results, metric):
    return [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]


def worse(a, b, better):
    """Relative amount by which b is worse than a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def verdict(xa, xb, spec):
    bound, better = spec["bound"], spec["better"]
    ma, mb = statistics.median(xa), statistics.median(xb)
    sa, sb = spread(xa), spread(xb)
    w = worse(ma, mb, better)
    b_beats_all = all(worse(a, b, better) < 0 for a in xa for b in xb)
    b_loses_all = all(worse(a, b, better) > 0 for a in xa for b in xb)
    if max(sa, sb) > bound:
        if b_beats_all:
            return "improved"
        if b_loses_all and w > bound:
            return "regressed"
        return "unresolved"
    if w > bound:
        return "regressed"
    if -w > sa:
        return "improved"
    return "unchanged"


def summarize(name, runs):
    print(f"== {name}")
    for (workload, trace), results in sorted(runs.items()):
        bad = sum(1 for r in results if not r.get("correct"))
        failed = sum(r["failed"] for r in results)
        attempted = sum(r["attempted"] for r in results)
        print(f"{workload} trace={trace}: {len(results)} runs, {bad} incorrect, "
              f"failed {failed}/{attempted} operations")
        specs = E2E if trace == 0 else LAYER
        for metric in specs:
            xs = values(results, metric)
            if not xs or (trace == 1 and not any(xs)):
                continue
            q1, med, q3 = quartiles(xs)
            note = ""
            if trace == 0 and metric != "setup_s" and spread(xs) > specs[metric]["bound"] / 3:
                note = "  spread above a third of the bound"
            print(f"  {metric:36s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                  f"spread {spread(xs):7.2%}{note}")


def repeats(by_seed):
    per_workload = defaultdict(lambda: defaultdict(list))
    for (workload, _seed), results in by_seed.items():
        if len(results) < 2:
            continue
        for metric in LAYER:
            xs = values(results, metric)
            per_workload[workload][metric].append(len(set(xs)) == 1 and any(xs))
    for workload, metrics in sorted(per_workload.items()):
        exact = [m for m, oks in metrics.items() if oks and all(oks)]
        print(f"{workload}: counters repeating exactly per seed: {', '.join(exact) or 'none'}")


def overhead(runs):
    for (workload, trace), results in sorted(runs.items()):
        if trace != 1 or (workload, 0) not in runs:
            continue
        plain = statistics.median(values(runs[(workload, 0)], "wall_s"))
        traced = statistics.median(values(results, "trace.wall_s"))
        print(f"{workload}: tracing overhead {traced - plain:+.3f} s per pass "
              f"({(traced - plain) / plain:+.1%} of untraced wall_s {plain:.3f} s)")


def main():
    if len(sys.argv) not in (2, 3):
        print(__doc__)
        return 2
    sets = [load(p) for p in sys.argv[1:]]
    for path, (runs, by_seed) in zip(sys.argv[1:], sets):
        summarize(path, runs)
        repeats(by_seed)
        overhead(runs)
    if len(sets) == 2:
        (ra, _), (rb, _) = sets
        print("== comparison (second set against the first)")
        for key in sorted(set(ra) & set(rb)):
            workload, trace = key
            if trace != 0:
                continue
            for metric, spec in E2E.items():
                xa, xb = values(ra[key], metric), values(rb[key], metric)
                if not xa or not xb:
                    continue
                ma, mb = statistics.median(xa), statistics.median(xb)
                print(f"  {workload:14s} {metric:12s} {ma:12.4f} -> {mb:12.4f} "
                      f"({(mb - ma) / ma:+7.2%}; bound {spec['bound']:.0%}): {verdict(xa, xb, spec)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
