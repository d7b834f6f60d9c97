"""Median and quartile spread of each metric over several result files.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds one run's stdout; its last line is the result JSON. The
spread is (Q3 - Q1) / median, with quartiles as
``statistics.quantiles(values, n=4)`` gives them.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> None:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as fh:
            result = json.loads(fh.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:24s} n={len(xs):2d} median={med:.4f} spread={spread:.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
