#!/usr/bin/env python3
"""Compares two sets of benchmark results, metric by metric.

Usage: python3 perfbench/diff.py A B

A and B are each a file or a directory of files holding the stdout of one
or more runs of perfbench/run.py; every line that is a result object
counts as one run. Counters (unit "count") are compared exactly: the
distinct values on each side are printed and any difference is flagged.
Every other metric is a measurement: each side's median and quartiles are
printed with the ratio of the medians. Exits 1 when a counter differs.
"""
import json
import statistics
import sys
from pathlib import Path


def results(path):
    p = Path(path)
    files = sorted(f for f in p.iterdir() if f.is_file()) if p.is_dir() else [p]
    out = []
    for f in files:
        for line in f.read_text().splitlines():
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if isinstance(r, dict) and "metrics" in r:
                out.append(r["metrics"])
    if not out:
        sys.exit(f"no results in {path}")
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(a_path, b_path):
    a, b = results(a_path), results(b_path)
    names = sorted(set().union(*a, *b))
    counters_differ = False
    print(f"A: {len(a)} runs  B: {len(b)} runs")
    for n in names:
        va = [r[n]["value"] for r in a if n in r]
        vb = [r[n]["value"] for r in b if n in r]
        unit = next(r[n]["unit"] for r in a + b if n in r)
        if not va or not vb:
            print(f"  {n:32s} only in {'A' if va else 'B'}")
            continue
        if unit == "count":
            sa, sb = sorted(set(va)), sorted(set(vb))
            flag = "" if sa == sb and len(sa) == 1 else "  DIFFERS"
            counters_differ |= bool(flag)
            print(f"  {n:32s} A={sa} B={sb}{flag}")
        else:
            qa, qb = quartiles(va), quartiles(vb)
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"  {n:32s} A={qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"B={qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {unit}  B/A={ratio:.3f}")
    return 1 if counters_differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
