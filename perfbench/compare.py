"""Compare two sets of benchmark results (the JSON files run.py writes to
perfbench/results/), per workload and metric:

    python3 perfbench/compare.py --base results/a*.json --new results/b*.json

Prints each side's median and quartile spread and the new/base ratio.
Refuses (exit 2) when the files do not all share one ``boot_id``: absolute
timings from different boots of a shared host are not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> list[dict]:
    out = []
    for path in paths:
        with open(path) as f:
            out.append(json.load(f))
    return out


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def summarize(results: list[dict]) -> dict:
    by_key: dict = defaultdict(list)
    for r in results:
        for name, m in r["metrics"].items():
            by_key[(r["record"]["workload"], name, m["unit"])].append(m["value"])
    return by_key


def compare(base: list[dict], new: list[dict]) -> list[str]:
    boots = {r["record"]["boot_id"] for r in base + new}
    if len(boots) != 1:
        raise ValueError(f"results span {len(boots)} boot_ids {sorted(boots)}; "
                         "only same-boot numbers are comparable")
    a, b = summarize(base), summarize(new)
    lines = []
    for key in sorted(set(a) & set(b)):
        workload, name, unit = key
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        ratio = mb / ma if ma else float("nan")
        lines.append(
            f"{workload:14s} {name:34s} {unit:6s} base {ma:.6g} "
            f"(n={len(a[key])}, iqr {spread(a[key]):.1%})  new {mb:.6g} "
            f"(n={len(b[key])}, iqr {spread(b[key]):.1%})  new/base {ratio:.4f}")
    return lines


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--base", nargs="+", required=True)
    parser.add_argument("--new", nargs="+", required=True)
    args = parser.parse_args(argv)
    try:
        lines = compare(load(args.base), load(args.new))
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
