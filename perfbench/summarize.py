"""Median and quartiles of each metric over several runs.

    python3 perfbench/summarize.py run1.out run2.out ...

Each file holds the stdout of one ``perfbench/run.py`` run; its last
line is the result. Prints, per metric, the run count, median, first
and third quartiles (``statistics.quantiles(values, n=4)``) and the
quartile distance as a share of the median. Runs with a wrong result
are listed apart and left out, and so are metrics a run could not
measure (null).
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        if not result["correct"]:
            print(f"{path}: left out, {result['failed']} of {result['attempted']} failed")
            continue
        for name, m in result["metrics"].items():
            if m["value"] is not None:
                values.setdefault(name, []).append(m["value"])
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} n={len(v):2d} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
