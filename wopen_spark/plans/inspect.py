"""Plan-quality inspection: the engine's "did Catalyst do what we want"
toolkit.

At 100 TB the difference between a good and a bad plan is not style — a
scan that misses predicate pushdown reads the whole table, a sort-merge
join where a broadcast was possible adds a full shuffle of the fact
table. These helpers extract the load-bearing facts from the executed
plan so tests can pin them (tests/test_plans.py) and regressions show up
as assertion failures, not as a 100x slowdown in production.

``run_in_job_group`` counts what a call ran instead: its Spark jobs,
stages and tasks, the fixed cost a plan alone does not show. bench.py
records every cell through it.
"""

from __future__ import annotations

import re
import uuid
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


def plan_string(df: DataFrame) -> str:
    """The formatted physical plan (same text as explain('formatted'))."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def executed_plan_string(df: DataFrame) -> str:
    """The AQE-final executed plan. Runs the query (collect) first so
    adaptive re-planning — runtime broadcast conversion, exchange reuse,
    skew splits — has actually happened; ``plan_string`` shows only the
    initial static plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's scans (flattened)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — the columns that actually hit storage.
    A scan reading columns the query never uses means pruning failed."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan_string(df))]


_JOIN_RE = (
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b"
)


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in plan order (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    return re.findall(_JOIN_RE, plan_string(df))


def executed_join_strategies(df: DataFrame) -> list[str]:
    """Join operators in the AQE-FINAL plan (runs the query). Use for
    joins whose strategy is decided at runtime — e.g. an unhinted join
    AQE converts to broadcast once it sees the small side's true size."""
    return re.findall(_JOIN_RE, executed_plan_string(df))


def exchanges(df: DataFrame) -> list[str]:
    """Shuffle exchanges (excluding broadcasts and reused ones) — the
    plan's shuffle count. Every entry is a full repartition of its input;
    at scale each one should be justifiable."""
    plan = plan_string(df)
    shuffles = []
    for m in re.finditer(r"\(\d+\) (Exchange|BroadcastExchange|ReusedExchange)", plan):
        if m.group(1) == "Exchange":
            shuffles.append(m.group(0))
    return shuffles


class JobGroupRun(NamedTuple):
    """What one job group ran: its job ids, the ids of the stages that
    ran a task (a stage the scheduler skipped because its shuffle output
    already existed ran none and is not counted), and the tasks that
    completed or failed in those stages."""

    jobs: list[int]
    stages: list[int]
    tasks: int


def run_in_job_group(
    spark: SparkSession, name: str, fn: Callable[[], Any]
) -> tuple[Any, JobGroupRun]:
    """Run ``fn()`` in a fresh Spark job group described as ``name``;
    return its result and what the group ran. Only the group's own jobs
    and stages are read from the status tracker, so the cost scales with
    the call, not with the status store. Jobs submitted from other
    threads, such as a streaming query's micro-batches, run outside the
    group and are not counted."""
    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    listed: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            listed.update(info.stageIds)
    stages, tasks = [], 0
    for sid in sorted(listed):
        info = tracker.getStageInfo(sid)
        ran = 0 if info is None else info.numCompletedTasks + info.numFailedTasks
        if ran:
            stages.append(sid)
            tasks += ran
    return out, JobGroupRun(jobs, stages, tasks)
