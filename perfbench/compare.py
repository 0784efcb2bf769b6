"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a directory of result records written by run.py (they land
in ``.bench_build/results``). Untraced runs are paired by workload and seed,
so run both sides on the same seeds, alternating which side goes first.

For every end-to-end metric of BENCHMARK.json and every workload it prints
one verdict, using the metric's bound from BENCHMARK.json:

* improved   -- the change wins at least 9 of every 10 pairs (ties count for
  neither side), the medians differ by more than the parent's
  interquartile range, and the change fails no more operations;
* worse      -- the change's median is worse than the parent's by more than
  the bound;
* unresolved -- either side's interquartile range exceeds the bound times
  its median and the change is not better in every run than every parent
  run;
* unchanged  -- otherwise.

It also reports the tracing overhead of each side: within traced runs (the
traced passes against the untraced passes of the same run) and across runs
(traced runs' traced passes against the untraced runs' pass_s).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(d, "*.json")))]
    return [r for r in runs if "end_to_end" in r]


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(a, b, better, bound, more_failures):
    """a, b: parent and change values paired by index."""
    sign = 1 if better == "higher" else -1
    ma, mb = statistics.median(a), statistics.median(b)
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    gap = sign * (mb - ma)
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if wins >= 0.9 * len(a) and gap > iqr(a) and not more_failures:
        return "improved", wins
    if -gap > bound * abs(ma):
        return "worse", wins
    spread = max(iqr(a) / abs(ma) if ma else 0.0, iqr(b) / abs(mb) if mb else 0.0)
    if spread > bound and not all_better:
        return "unresolved", wins
    return "unchanged", wins


def overhead(runs):
    within = [r["per_layer"]["trace.overhead"] for r in runs if r["trace"] and "per_layer" in r]
    traced = [statistics.median(r["passes"]["traced_s"]) for r in runs if r["trace"]]
    plain = [r["end_to_end"]["pass_s"] for r in runs if not r["trace"]]
    across = (statistics.median(traced) / statistics.median(plain) - 1
              if traced and plain else None)
    return (statistics.median(within) if within else None), across


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    sides = [load(d) for d in sys.argv[1:]]
    workloads = [w["name"] for w in spec["workloads"]]
    width = max(len(m["name"]) for m in metrics) + 2
    print(f"{'workload':<13}" + "".join(f"{m['name']:>{max(width, 24)}}" for m in metrics))
    for w in workloads:
        by_seed = [{r["seed"]: r for r in side if r["workload"] == w and not r["trace"]}
                   for side in sides]
        seeds = sorted(set(by_seed[0]) & set(by_seed[1]))
        if not seeds:
            print(f"{w:<13}no paired untraced runs")
            continue
        fails = [sum(by_seed[i][s]["failed"] for s in seeds) for i in (0, 1)]
        cells = []
        for m in metrics:
            a = [by_seed[0][s]["end_to_end"][m["name"]] for s in seeds]
            b = [by_seed[1][s]["end_to_end"][m["name"]] for s in seeds]
            v, wins = verdict(a, b, m["better"], m["bound"], fails[1] > fails[0])
            ma, mb = statistics.median(a), statistics.median(b)
            cells.append(f"{v} {mb / ma - 1:+.1%} {wins}/{len(seeds)}" if ma else v)
        print(f"{w:<13}" + "".join(f"{c:>{max(width, 24)}}" for c in cells) +
              f"   failed {fails[0]} -> {fails[1]}")
    print("\ncells: verdict, change median over parent median - 1, pairs the change won")
    for label, side in zip(("parent", "change"), sides):
        for w in workloads:
            within, across = overhead([r for r in side if r["workload"] == w])
            if within is None and across is None:
                continue
            fmt = lambda x: "n/a" if x is None else f"{x:+.1%}"
            print(f"tracing overhead {label} {w}: within traced runs {fmt(within)}, "
                  f"traced vs untraced runs {fmt(across)}")


if __name__ == "__main__":
    main()
