"""Spans around calls into the engine's layers, attributed to Spark stages.

The benchmark wraps each call into a layer (``queries.<name>``,
``snapshot_table.read_where`` ...) in :meth:`Tracer.span`. A span gets a
Spark job group of its own, so every job the call submits from the driver
thread carries the span's id. At the end of the run :meth:`Tracer.harvest`
reads jobs and stages from Spark's status store
(``sc._jsc.sc().statusStore()``, which works with the UI disabled) and
gives each span five counters:

- ``wall_ms``: span duration;
- ``driver_ms``: wall time minus the union of its stages'
  submission-to-completion intervals (driver-side and Python work);
- ``tasks``, ``shuffle_bytes`` (shuffle write), ``exec_cpu_ms``.

A job without a span's group (submitted from another thread) falls back to
the innermost span whose time window holds its submission time, since only
one call is in flight at a time. What neither rule places is reported as
the unattributed remainder.

The stage-level sums (attributed, unattributed, outside the traced phase)
are then reconciled with app totals read from other views of the store:
tasks and shuffle write from the executor summaries, stages from the job
summaries. A stage missing from the stage list, or a task counted twice,
shows as a difference.

With tracing off every method is a no-op, so the untraced run pays
nothing but a function call per span.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

COUNTERS = ("wall_ms", "driver_ms", "tasks", "shuffle_bytes", "exec_cpu_ms")
_RUN_STATUSES = {"COMPLETE", "FAILED", "ACTIVE"}
# name of the root span of one day, pass or batch; its children are calls
ITERATION = "iteration"


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder; written out once, when the run ends."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.extra: dict[str, list[float]] = {}
        self.iteration: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "group": f"perfbench-span-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, name: str, value: float) -> None:
        """One observation of an extra counter (``operators.x.calls`` ...)."""
        if self.enabled:
            self.extra.setdefault(name, []).append(float(value))

    # ------------------------------------------------------------ harvest

    def _status(self) -> tuple[list[dict], list[dict]]:
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters

        def opt_ms(o):
            return float(o.get().getTime()) if o.isDefined() else None

        jobs = []
        for j in conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            jobs.append(
                {
                    "job": j.jobId(),
                    "group": g.get() if g.isDefined() else None,
                    "submit_ms": opt_ms(j.submissionTime()),
                    "stages": list(conv.asJava(j.stageIds())),
                }
            )
        stages = []
        # AppStatusStore.stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus): py4j passes every argument
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        all_stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        for s in conv.asJava(all_stages):
            status = s.status().toString()
            if status not in _RUN_STATUSES:
                continue
            stages.append(
                {
                    "stage": s.stageId(),
                    # tasks that ran, as the executor summaries count them
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "exec_cpu_ms": s.executorCpuTime() / 1e6,
                    "submit_ms": opt_ms(s.submissionTime()),
                    "end_ms": opt_ms(s.completionTime()),
                }
            )
        # independent app totals: executor and job summaries
        executors = conv.asJava(store.executorList(False))
        totals = {
            "stages": sum(j.numCompletedStages() + j.numFailedStages()
                          for j in conv.asJava(store.jobsList(None))),
            "tasks": sum(e.completedTasks() + e.failedTasks() for e in executors),
            "shuffle_bytes": sum(e.totalShuffleWrite() for e in executors),
        }
        return jobs, stages, totals

    def harvest(self, window: tuple[float, float]) -> dict:
        """Attribute stages to spans; returns the reconciliation report.

        ``window`` is the traced phase in epoch ms: jobs outside it are
        the set-up, warm-up, untraced phase and output checks."""
        jobs, stages, app_totals = self._status()
        by_group = {s["group"]: s for s in self.spans}
        stage_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["job"]):
            for sid in j["stages"]:
                stage_job.setdefault(sid, j["job"])
        job_span: dict[int, int | None] = {}
        job_in_window: dict[int, bool] = {}
        for j in jobs:
            t = j["submit_ms"] or 0.0
            job_in_window[j["job"]] = window[0] <= t <= window[1]
            span = by_group.get(j["group"])
            if span is None:
                inside = [
                    s for s in self.spans if s["start_ms"] <= t <= s.get("end_ms", t)
                ]
                span = max(inside, key=lambda s: s["start_ms"]) if inside else None
            job_span[j["job"]] = span["id"] if span else None

        per_span = {s["id"]: {"stages": [], "tasks": 0, "shuffle_bytes": 0,
                              "exec_cpu_ms": 0.0} for s in self.spans}
        keys = ("stages", "tasks", "shuffle_bytes", "exec_cpu_ms")
        rest_in = dict.fromkeys(keys, 0)
        rest_out = dict.fromkeys(keys, 0)
        for st in stages:
            job = stage_job.get(st["stage"])
            sid = job_span.get(job) if job is not None else None
            if sid is not None:
                acc = per_span[sid]
                acc["stages"].append(st)
                for c in ("tasks", "shuffle_bytes", "exec_cpu_ms"):
                    acc[c] += st[c]
            else:
                bucket = rest_in if job is not None and job_in_window[job] else rest_out
                bucket["stages"] += 1
                for c in ("tasks", "shuffle_bytes", "exec_cpu_ms"):
                    bucket[c] += st[c]

        for s in self.spans:
            acc = per_span[s["id"]]
            wall = s["end_ms"] - s["start_ms"]
            clipped = [
                (max(st["submit_ms"], s["start_ms"]), min(st["end_ms"], s["end_ms"]))
                for st in acc["stages"]
                if st["submit_ms"] is not None and st["end_ms"] is not None
            ]
            busy = _union_ms([(a, b) for a, b in clipped if b > a])
            children = [
                (c["start_ms"], c["end_ms"]) for c in self.spans if c["parent"] == s["id"]
            ]
            s["wall_ms"] = wall
            s["self_ms"] = wall - _union_ms(children)
            s["driver_ms"] = max(0.0, wall - busy)
            s["n_stages"] = len(acc["stages"])
            for c in ("tasks", "shuffle_bytes", "exec_cpu_ms"):
                s[c] = acc[c]

        attributed = {
            "stages": sum(s["n_stages"] for s in self.spans),
            "tasks": sum(s["tasks"] for s in self.spans),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in self.spans),
            "exec_cpu_ms": sum(s["exec_cpu_ms"] for s in self.spans),
        }
        # executor CPU has no second view in the store; it is reported, not
        # reconciled
        difference = {
            k: attributed[k] + rest_in[k] + rest_out[k] - app_totals[k] for k in app_totals
        }
        return {
            "app_totals": app_totals,
            "attributed_to_spans": attributed,
            "unattributed_in_traced_phase": rest_in,
            "outside_traced_phase": rest_out,
            "difference": difference,
            "reconciled": not any(difference.values()),
        }

    def per_call_metrics(self, iterations: set[int]) -> dict[str, float]:
        """Median of each counter per span name over the given iterations,
        plus the median of each extra counter."""
        out: dict[str, float] = {}
        names: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["iteration"] in iterations and s["name"] != ITERATION:
                names.setdefault(s["name"], []).append(s)
        for name, spans in names.items():
            for c in COUNTERS:
                out[f"{name}.{c}"] = float(statistics.median(s[c] for s in spans))
        for name, vals in self.extra.items():
            out[name] = float(statistics.median(vals))
        return out
