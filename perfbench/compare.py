#!/usr/bin/env python3
"""Compare two sets of saved benchmark reports.

Usage:

    python3 perfbench/compare.py BASE_GLOB NEW_GLOB

Each glob names report files written by run.py (perfbench/out/reports/
*.json). Reports are grouped by workload and tracing mode; for every
metric the median and quartiles of each side and the ratio of medians
are printed. Results from different host shapes (core count, CPU model,
driver heap, Spark version or fixture set) are never compared: the
script refuses and exits with code 2.
"""

import glob
import json
import statistics
import sys

HOST_KEYS = ("nproc", "cpu_model", "driver_heap", "spark_version", "fixtures")


def load(pattern):
    out = []
    for f in sorted(glob.glob(pattern)):
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def host_shape(reports):
    shapes = {tuple(r["host"].get(k) for k in HOST_KEYS) for r in reports}
    if len(shapes) != 1:
        raise ValueError(f"reports span {len(shapes)} host shapes: {sorted(shapes)}")
    return dict(zip(HOST_KEYS, shapes.pop()))


def metric_values(reports):
    vals = {}
    for r in reports:
        key = (r["workload"], int(bool(r["trace"])))
        for section in ("end_to_end", "extra", "per_layer"):
            for name, m in r.get(section, {}).items():
                if isinstance(m.get("value"), (int, float)):
                    vals.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return vals


def summary(xs):
    if len(xs) >= 2:
        q = statistics.quantiles(xs, n=4)
        return statistics.median(xs), q[0], q[2]
    return xs[0], xs[0], xs[0]


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[1]), load(argv[2])
    if not base or not new:
        print("no reports matched", file=sys.stderr)
        return 2
    try:
        a, b = host_shape(base), host_shape(new)
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    if a != b:
        print(f"refusing to compare across host shapes: {a} vs {b}", file=sys.stderr)
        return 2
    va, vb = metric_values(base), metric_values(new)
    for key in sorted(set(va) & set(vb)):
        print(f"== {key[0]} (trace {key[1]})")
        for name in sorted(set(va[key]) & set(vb[key])):
            ma, qa1, qa3 = summary(va[key][name])
            mb, qb1, qb3 = summary(vb[key][name])
            ratio = mb / ma if ma else float("nan")
            print(f"  {name:34s} base {ma:.6g} [{qa1:.4g}, {qa3:.4g}]  "
                  f"new {mb:.6g} [{qb1:.4g}, {qb3:.4g}]  new/base {ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
