"""Flag job, stage and task counts that do not repeat exactly across runs.

    python3 perfbench/steadiness.py .perfbench/reports/*.json

Each traced run writes a report whose ``counts`` map ``<op>:<phase>.<count>``
to one value per pass. This prints, per workload, every count whose values
differ between the passes of any run or between runs, so that a gain is
claimed only on counts that repeat exactly.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def unsteady(reports: list[dict]) -> dict[str, dict[str, list]]:
    """workload -> count name -> the values seen, for counts that vary."""
    seen: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for r in reports:
        for name, values in r["counts"].items():
            seen[r["workload"]][name].append(values)
    return {
        w: {n: v for n, v in sorted(counts.items())
            if len({x for run in v for x in run}) > 1}
        for w, counts in sorted(seen.items())
    }


def main(paths: list[str]) -> int:
    reports = []
    for p in paths:
        with open(p) as f:
            reports.append(json.load(f))
    for w, counts in unsteady(reports).items():
        runs = sum(r["workload"] == w for r in reports)
        print(f"{w}: {len(counts)} unsteady counts over {runs} runs")
        for name, values in counts.items():
            print(f"  {name}: {values}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
