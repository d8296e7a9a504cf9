"""SparkSession factory with scale-oriented defaults.

The reference (``process_open_data.py:36`` etc.) runs eager single-thread
pandas; here every pipeline is a lazy Catalyst plan. The configs below are
the ones that matter at 100 TB: AQE (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold for the small dimension tables,
Arrow for any pandas-UDF exchange, and dynamic partition overwrite so the
partitioned idempotent sinks (SURVEY §2.2 K2) replace exactly one
``date_extract`` partition per run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local core count (``SPARK_GRAFT_CPUS``, default 32): the session's
    ``local[N]`` master and shuffle partitions, and the Python
    datasource's minimum task count. On a real cluster the master comes
    from the submit environment instead."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "wopen_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count; at cluster
    scale set it to ~2-3x total executor cores (AQE coalesces the rest).
    """
    cpus = default_cpus()
    # make this package importable by Python workers regardless of the
    # driver's cwd (local-mode workers inherit the process environment)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{current}" if current else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert at the scan
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[32] puts driver + all executor threads in ONE JVM. 8g is
        # measured, not a guess: raising it to 24g DOUBLED the 72-query
        # bench (84s -> 181s) — G1 on a huge mostly-empty heap costs more
        # than the extra headroom buys at this SF. Cluster deployments set
        # per-container memory through the submit environment instead.
        # The sf10 campaign (r7) needs SPARK_GRAFT_DRIVER_MEM=16g: the
        # 60M-event stateful stage runs 32 concurrent Arrow-batching
        # tasks in this one JVM (256 MB/thread at 8g — tighter than any
        # real executor would be); on a cluster the same stage spreads
        # across containers and the default is right.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if "spark.master" not in os.environ.get("SPARK_CONF", ""):
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
