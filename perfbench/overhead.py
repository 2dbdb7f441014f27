"""Tracing overhead: traced minus untraced end-to-end metrics.

Every run appends a record to ``perfbench/out/results.jsonl``; a traced
run records the end-to-end metrics it measured with its wrappers in
place. For each workload this prints, per metric, the median over the
untraced runs, the median over the traced runs and their difference as
a share of the untraced median.

    python3 perfbench/run.py --workload tracker_only --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload tracker_only --seed 1 --seconds 16 --trace 1
    python3 perfbench/overhead.py
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

RESULTS = Path(__file__).resolve().parent / "out" / "results.jsonl"


def main() -> int:
    if not RESULTS.exists():
        print(f"no runs recorded in {RESULTS}", file=sys.stderr)
        return 1
    vals: dict = defaultdict(lambda: defaultdict(lambda: ([], [])))
    for line in RESULTS.read_text().splitlines():
        r = json.loads(line)
        if not r["result"]["correct"]:
            continue
        for name, (value, _unit) in r.get("e2e", {}).items():
            vals[r["workload"]][name][r["trace"]].append(value)
    for wl, metrics in sorted(vals.items()):
        print(wl)
        for name, (plain, traced) in sorted(metrics.items()):
            if plain and traced:
                a, b = statistics.median(plain), statistics.median(traced)
                print(f"  {name:28s} untraced {a:12.3f}  traced {b:12.3f}  "
                      f"diff {(b - a) / a:+.1%}  (runs {len(plain)}/{len(traced)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
