"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of run detail files (or directories holding them)
written by ``run.py`` into ``.perfbench_results/``. For every workload and
metric it prints each side's median and quartiles and the change of the
medians. Runs made at different core counts are refused: the bench history
before this benchmark is 32-core, and timings do not carry across.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    cores = {r["conditions"]["before"]["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"refusing to compare runs made at different core counts: {sorted(cores)}",
              file=sys.stderr)
        return 1
    keys = sorted({(r["workload"], m) for r in base + new for m in r["result"]["metrics"]})
    print(f"{'workload':10s} {'metric':26s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'change':>8s}")
    for workload, metric in keys:
        sides = []
        for runs in (base, new):
            vals = [r["result"]["metrics"][metric]["value"] for r in runs
                    if r["workload"] == workload and metric in r["result"]["metrics"]]
            sides.append(summary(vals) if vals else None)
        if None in sides:
            continue
        (b1, bm, b3), (n1, nm, n3) = sides
        change = f"{100 * (nm - bm) / bm:+.1f}%" if bm else "n/a"
        print(f"{workload:10s} {metric:26s} {b1:9.4g} {bm:9.4g} {b3:9.4g}   "
              f"{n1:9.4g} {nm:9.4g} {n3:9.4g}   {change:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
