"""Compare two bench.py BENCH_FULL.json files, parent then change.

First lists every cell whose Spark counters (``jobs``, ``stages``,
``tasks``) differ: they are deterministic for the same inputs and code,
so any difference is a change in what the cell runs. Only the counters
both files carry are compared. Then lists the wall-time movers beyond a
ratio threshold (default 2x), ignoring sub-second cells where ratios are
noise.

Usage: python tools/compare_bench.py parent/BENCH_FULL.json change/BENCH_FULL.json [--ratio 2]
"""
from __future__ import annotations

import json
import sys

COUNTERS = ("jobs", "stages", "tasks")


def main() -> None:
    base_doc = json.load(open(sys.argv[1]))
    fresh_doc = json.load(open(sys.argv[2]))
    ratio = 2.0
    if "--ratio" in sys.argv:
        ratio = float(sys.argv[sys.argv.index("--ratio") + 1])
    base, fresh = base_doc["queries"], fresh_doc["queries"]
    common = sorted(set(base) & set(fresh))
    counters = [c for c in COUNTERS if c in base_doc and c in fresh_doc]
    counter_diffs = []
    for q in common:
        diff = {
            c: [base_doc[c].get(q), fresh_doc[c].get(q)]
            for c in counters
            if base_doc[c].get(q) != fresh_doc[c].get(q)
        }
        if diff:
            counter_diffs.append(dict(query=q, **diff))
    movers = []
    for q in common:
        b, f = base[q], fresh[q]
        if min(b, f) < 1.0:
            continue  # sub-second (or failed, -1.0) cells: ratio is noise
        r = f / b
        if r >= ratio or r <= 1 / ratio:
            movers.append((r, q, b, f))
    print(
        json.dumps(
            {
                "common_cells": len(common),
                "counters_compared": counters,
                "counter_diffs": counter_diffs,
                "base_total_common": round(sum(base[q] for q in common), 1),
                "fresh_total_common": round(sum(fresh[q] for q in common), 1),
                "new_cells": sorted(set(fresh) - set(base)),
                "dropped_cells": sorted(set(base) - set(fresh)),
                "movers": [
                    {"query": q, "base": b, "fresh": f, "ratio": round(r, 2)}
                    for r, q, b, f in sorted(movers, reverse=True)
                ],
            },
            indent=2,
        )
    )


if __name__ == "__main__":
    main()
