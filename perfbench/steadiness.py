"""Repeat runs of the benchmark and their spread, per workload and metric.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 [--workload table_cdc]

Runs ``perfbench/run.py`` once per seed (fresh process each time, tracing
off) with BENCHMARK.json's ``run_seconds``, then prints for every
end-to-end metric the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, the spread
``(q3 - q1) / median`` and the metric's bound. Raw results are written to
``.perfbench/steadiness-<first-seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workload", action="append", help="default: every workload")
    args = p.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    raw: dict[str, list[dict]] = {}
    for wl in workloads:
        raw[wl] = []
        for k in range(args.runs):
            seed = args.first_seed + k
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            # the run's own summary lines (samples, warm-up and timed series)
            notes = [ln for ln in proc.stderr.splitlines()
                     if " samples)" in ln or ln.startswith(("warm-up", "timed", "check"))]
            raw[wl].append({"seed": seed, "rc": proc.returncode, "wall_s": wall,
                            "result": result, "notes": notes})
            print(f"{wl} seed={seed} rc={proc.returncode} wall={wall:.1f}s "
                  f"{json.dumps(result['metrics'] if result else None)}", flush=True)

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench", f"steadiness-{args.first_seed}.json")
    with open(out, "w") as f:
        json.dump(raw, f, indent=1)

    for wl, runs in raw.items():
        ok = [r["result"] for r in runs if r["result"]]
        walls = [r["wall_s"] for r in runs]
        print(f"\n{wl}: {len(ok)}/{len(runs)} runs ok, "
              f"all correct: {all(r['correct'] and r['failed'] == 0 for r in ok)}, "
              f"run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            s = summarise(vals)
            print(f"  {m['name']:<12} median {s['median']:.4g} {m['unit']}  "
                  f"q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}  "
                  f"bound {m['bound']}")
    print(f"\nraw results: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
