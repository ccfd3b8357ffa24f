#!/usr/bin/env python3
"""Compare two sets of result records written by run.py.

    python3 perfbench/compare.py <base dir or files...> -- <new dir or files...>

For each workload and end-to-end metric it prints both medians, each
side's quartile spread as a share of its median, and the change, and
flags a change worse than the metric's bound in BENCHMARK.json. It
refuses to compare records whose host shape (cores, memory, JDK,
Spark master, shuffle partitions, heap) differs, within a side or
between the two, or whose trace setting differs: numbers from another
host shape measure the host, not the code.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(args):
    files = []
    for a in args:
        files += sorted(glob.glob(os.path.join(a, "*.json"))) if os.path.isdir(a) else [a]
    return [json.load(open(f)) for f in files]


def shape(r):
    return json.dumps({**r["host"], "trace": r["trace"]}, sort_keys=True)


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    shapes = {shape(r) for r in base + new}
    if len(shapes) != 1:
        print("refused: the records come from different host shapes or trace settings:")
        for s in sorted(shapes):
            print("  ", s)
        return 1
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    worse = 0
    for w in sorted({r["workload"] for r in base + new}):
        for name, spec in bounds.items():
            a = [r["end_to_end"][name]["value"] for r in base if r["workload"] == w]
            b = [r["end_to_end"][name]["value"] for r in new if r["workload"] == w]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
            flag = "WORSE" if change > spec["bound"] else ""
            worse += bool(flag)
            print(f"{w:16s} {name:14s} base {ma:10.4g} (n={len(a)}, spread {spread(a):.3f})  "
                  f"new {mb:10.4g} (n={len(b)}, spread {spread(b):.3f})  worse by {change:+.3f} {flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
