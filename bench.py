"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion and fully materialized on the
driver — via Arrow (toPandas) so the transfer measures columnar batches,
not row-at-a-time pickling; row-Row collect() is the fallback for any
plan Arrow can't carry. The measurement covers the full plan, not just
plan construction.

BENCH_FULL.json holds every query's wall seconds (``queries``) and what
its cell ran, counted after the cell's clock stops from the status
tracker for the cell's job group: Spark jobs (``jobs``; ``total_jobs`` is
their sum), the stages that ran a task (``stages``; stages the scheduler
skipped are not counted) and those stages' tasks (``tasks``).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wopen_spark.plans import JobGroupRun, run_in_job_group  # noqa: E402


def run_cell(spark, name: str, fn, sf_dir: str) -> tuple[float, JobGroupRun]:
    """One bench cell: build query ``name`` and materialize it on the
    driver in a job group of its own. Returns its wall seconds (-1.0 on
    error) and what the group ran, counted after the clock stops."""

    def timed() -> float:
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            try:
                _ = len(df.toPandas())
            except Exception:  # noqa: BLE001 — Arrow-incompatible result
                _ = len(df.collect())
            return round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            return -1.0

    return run_in_job_group(spark, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from wopen_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("wopen-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    # optional subset filter (comma-separated names) for manual large-SF
    # runs; the driver never sets this, so its per-round bench is unchanged
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        qs = {n: f for n, f in qs.items() if n in keep}

    # warm the JVM + parquet footers, the Python worker pool (Arrow path),
    # and the streaming machinery (state store, sink registry) once so
    # per-query numbers measure the queries, not engine initialization
    next(iter(qs.values()))(spark, sf_dir).limit(1).collect()
    warm_sf = "/root/testdata/sf0.001"
    for warm in (
        "http_enrich_fingerprint",
        "streaming_hourly_counts",
        "streaming_user_sessions",
    ):
        if warm in qs and os.path.isdir(warm_sf):
            try:
                qs[warm](spark, warm_sf).limit(1).collect()
            except Exception:  # noqa: BLE001 — warmup is best-effort
                pass

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for name, fn in qs.items():
        timings[name], ran = run_cell(spark, name, fn, sf_dir)
        jobs[name], stages[name] = len(ran.jobs), len(ran.stages)
        tasks[name] = ran.tasks
        # the cell's frame went out of scope when run_cell returned; collect
        # its py4j refs NOW: JVM blocks (localCheckpoints, per-query
        # persists) stay pinned until Python GC releases the proxy objects,
        # and CPython's lazy collection let ~100 queries of sf10 checkpoint
        # blocks accumulate until the ContextCleaner itself OOM'd the 8g
        # heap mid-suite (r7). Cost: ~ms per query.
        gc.collect()

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query detail goes to a file; the printed line must stay
    # under the harness's 2000-char stdout tail so it parses as JSON.
    # (Rounds 1-2 printed all queries on one line; at 86 queries that is
    # ~2.7 KB, the tail cut off the line start, and the recorded bench
    # artifact had parsed=null.) Slowest-first so the entries that matter
    # for perf grading survive the cut.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(
                {
                    "total_sec": total,
                    "sf": sf_val,
                    "queries": timings,
                    "total_jobs": sum(jobs.values()),
                    "jobs": jobs,
                    "stages": stages,
                    "tasks": tasks,
                },
                f,
                indent=1,
            )
    except OSError:
        full_path = None

    base = {
        "metric": "wopen_spark_total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "errors": sum(1 for v in timings.values() if v < 0),
        # failed-query names in the base dict so they survive truncation
        # (errored queries time -1.0 and sort last, i.e. cut first)
        "failed": sorted(n for n, v in timings.items() if v < 0),
        "queries_full": "BENCH_FULL.json" if full_path else None,
    }
    budget = 1800
    shown: dict[str, float] = {}
    for name in sorted(timings, key=lambda n: -timings[n]):
        # trial must mirror the final output shape: include queries_omitted
        # at its worst-case width so the printed line can't exceed budget
        trial = dict(
            base,
            queries=dict(shown, **{name: timings[name]}),
            queries_omitted=len(timings),
        )
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        shown[name] = timings[name]
    out = dict(base, queries=shown, queries_omitted=len(timings) - len(shown))
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
