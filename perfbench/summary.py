"""Spread of the end-to-end metrics over several runs, against the bounds.

    python3 perfbench/summary.py                      # every record in .perfbench/results
    python3 perfbench/summary.py a.json b.json ...    # chosen records

For each workload and metric of the untraced records it prints the sample
count, the median, the quartiles as ``statistics.quantiles(values, n=4)``
gives them, and their distance as a share of the median next to the
metric's bound in BENCHMARK.json (``none`` for warm_s, which is recorded but
not bounded).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from stats import relative_iqr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(paths: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    paths = paths or sorted(glob.glob(os.path.join(ROOT, ".perfbench", "results", "*-trace0.json")))
    values: dict[tuple[str, str], list[float]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec["trace"]:
            continue
        for name, m in {**rec["metrics"], **rec.get("unbounded", {})}.items():
            values.setdefault((rec["workload"], name), []).append(m["value"])
    for (workload, name), v in sorted(values.items()):
        line = f"{workload:14} {name:8} n={len(v):<3} median={statistics.median(v):9.4f}"
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
            line += f"  q1={q1:9.4f} q3={q3:9.4f}  iqr/median={relative_iqr(v):.3f}"
        print(line + f"  bound={bounds.get(name, 'none')}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
