"""Physical-plan inspection utilities."""

from wopen_spark.plans.inspect import (
    JobGroupRun,
    exchanges,
    executed_join_strategies,
    executed_plan_string,
    join_strategies,
    plan_string,
    pushed_filters,
    run_in_job_group,
    scan_schemas,
)

__all__ = [
    "JobGroupRun",
    "exchanges",
    "executed_join_strategies",
    "executed_plan_string",
    "join_strategies",
    "plan_string",
    "pushed_filters",
    "run_in_job_group",
    "scan_schemas",
]
