"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 16 --trace 0

Runs from the root of a source checkout. The run:

1. isolates itself in ``.perfbench/run-<workload>-<seed>-<pid>/`` under the
   checkout (TMPDIR, SPARK_LOCAL_DIRS, the JVM's temp dir, warehouse,
   tables, topic) and deletes that directory when it ends;
2. starts the engine's session with ``get_spark`` on ``local[CPUS]``;
3. stages seeded inputs, warms up on inputs the timed part never reuses,
   then runs closed-loop iterations (one client, next iteration starts
   when the previous finishes). Their number depends on ``--seconds``
   alone, never on how fast they run, so that two versions of the engine
   always time the same iterations;
4. checks the outputs outside the timed region;
5. prints one JSON object as the last line of stdout: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the timed part runs twice: untraced, then traced. The
traced half gives the per-layer metrics; the difference between the two
halves' end-to-end values is the tracing overhead, written with the spans
and the counter reconciliation to ``.perfbench/trace-<workload>-<seed>.json``.
A trace whose span counters do not add up to the app totals counts as a
failed check.

Exit status is non-zero, with nothing printed on stdout, when the engine
sources are missing or a run cannot complete.
"""

from __future__ import annotations

import time

# set-up time is measured from here: before the heavy imports
_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed local parallelism (stated in BENCHMARK.json): without it get_spark
# falls back to local[32]. Driver heap kept small; the inputs are small.
CPUS = 4
DRIVER_MEM = "2g"
# --seconds buys one timed iteration per ITERATION_S seconds. A constant, so
# the number of timed iterations never depends on how fast they run
ITERATION_S = 5.0
WORKLOADS = ("corpus_dedup", "table_cdc")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every scratch location of this process tree into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--driver-java-options "{java_opts}"',
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job and stage of a run for the traced harvest
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 — gateway already broken (e.g. SIGTERM mid-call)
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class Run:
    """What a workload gets: the session, the tracer, its directory, the
    seed, and the clock."""

    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.seed = args.seed
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.session_s = 0.0

    median = staticmethod(median)

    def start(self) -> None:
        from spans import Tracer

        from wopen_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t
        self.session_s = time.perf_counter() - _T0
        self.tracer = Tracer(self.spark, enabled=False)

    def iterations(self, group: int = 1) -> int:
        """Timed iterations per loop: one per ``ITERATION_S`` seconds of
        ``--seconds``, in whole groups of ``group``, at least one group."""
        return max(1, int(self.args.seconds // (ITERATION_S * group))) * group

    def measure(self, step, first: int, e2e, n: int) -> dict:
        """Run the timed part: ``n`` iterations. ``e2e(records)`` maps
        iteration records to ``{metric: (value, unit, samples)}``.

        Traced: ``n`` untraced iterations, then ``n`` traced ones whose
        spans give the per-layer metrics; the report holds both halves'
        end-to-end values (the tracing overhead) and the reconciliation of
        span counters with the app totals."""
        if not self.args.trace:
            recs = self.loop(step, first, n)
            return {"end_to_end": e2e(recs), "records": recs}
        plain = self.loop(step, first, n)
        self.tracer.enabled = True
        window = (time.time() * 1000.0, None)
        traced = self.loop(step, first + n, n)
        window = (window[0], time.time() * 1000.0)
        self.tracer.enabled = False
        report = self.tracer.harvest(window)
        e_plain, e_traced = e2e(plain), e2e(traced)
        report["tracing_overhead"] = {
            k: {
                "untraced": e_plain[k][0],
                "traced": e_traced[k][0],
                "traced_minus_untraced": e_traced[k][0] - e_plain[k][0],
            }
            for k in e_plain
        }
        report["spans"] = self.tracer.spans
        layer = self.tracer.per_call_metrics({x["iteration"] for x in traced})
        layer["session.get_spark.wall_ms"] = self.get_spark_s * 1000.0
        return {
            "end_to_end": e_plain,
            "records": plain + traced,
            "per_layer": layer,
            "trace_report": report,
        }

    def loop(self, step, first: int, n: int) -> list[dict]:
        """Closed loop: ``step(i)`` for i = first .. first+n-1, each
        starting when the previous one has finished. Returns each step's
        record (its ``busy_s`` is the timed part of the iteration)."""
        out: list[dict] = []
        for i in range(first, first + n):
            self.tracer.iteration = i
            with self.tracer.span("iteration"):
                rec = step(i)
            rec["iteration"] = i
            out.append(rec)
            gc.collect()
            self.spark.catalog.clearCache()
        return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wopen_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    scratch = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(scratch, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate(run_dir)

    import importlib
    import signal

    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = importlib.import_module(f"wl_{args.workload}")
    run = Run(args, run_dir)
    try:
        run.start()
        result = bench.run(run)
    except Exception:  # noqa: BLE001 — the run failed: report, print no result
        traceback.print_exc()
        return 1
    finally:
        try:
            if run.spark is not None:
                stop_session(run.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.trace:
        report_path = os.path.join(scratch, f"trace-{args.workload}-{args.seed}.json")
        with open(report_path, "w") as f:
            json.dump(result["trace_report"], f, indent=1, default=str)
        print(f"trace report: {report_path}", file=sys.stderr)
        report = result["trace_report"]
        for k in ("app_totals", "attributed_to_spans", "unattributed_in_traced_phase",
                  "outside_traced_phase", "difference", "reconciled"):
            print(f"{k}: {json.dumps(report[k])}", file=sys.stderr)
        if not report["reconciled"]:
            # the span counters do not add up to the app totals: a failed check
            result["failed"] += 1
        for k, v in report["tracing_overhead"].items():
            print(f"tracing overhead {k}: {json.dumps(v)}", file=sys.stderr)
        # every declared per-layer metric, 0 where this workload has no such call
        metrics = {
            m["name"]: {"value": float(result["per_layer"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared["per_layer"]
        }
        unknown = sorted(set(result["per_layer"]) - set(metrics))
        if unknown:
            print(f"per-layer values not declared in BENCHMARK.json: {unknown}", file=sys.stderr)
    else:
        # the declared metrics go to the result line; workload-specific
        # detail (write_s, read_s ...) goes to stderr with the rest
        metrics = {
            m["name"]: {"value": result["end_to_end"][m["name"]][0], "unit": m["unit"]}
            for m in declared["end_to_end"]
        }
        for k, (v, unit, n) in result["end_to_end"].items():
            print(f"{k} = {v:.6g} {unit} ({n} samples)", file=sys.stderr)
    for line in result.get("log", []):
        print(line, file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
