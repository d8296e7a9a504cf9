"""Subprocess writer for the cross-process DATASOURCE race test.

NOT a pytest module — spawned by tests/test_datasource_race.py as
``python datasource_race_worker.py <table> <writer_id> <n> <out>``.
Each worker owns its own JVM + SparkSession and appends through
``df.write.format("wopen_snapshot")`` — so the DATASOURCE commit path
(the driver-side append, rebased by ``SnapshotTable._commit``'s retry
loop with jittered backoff) is raced by two genuinely independent OS
processes, not just the engine-class path test_snapshot_race.py
covers. The
workers stay append-only (append commutes, overwrite does not), so
every successful write must survive — the property the parent asserts.
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    table_path, writer_id, n_appends, out_file = (
        sys.argv[1],
        int(sys.argv[2]),
        int(sys.argv[3]),
        sys.argv[4],
    )
    from pyspark.sql import SparkSession

    from wopen_spark.datasource import register_snapshot_datasource

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"ds-race-w{writer_id}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_snapshot_datasource(spark)
    committed = []
    try:
        for i in range(n_appends):
            rid = writer_id * 1_000_000 + i
            (
                spark.createDataFrame(
                    [(rid, writer_id, i)], "id long, writer int, seq int"
                )
                .coalesce(1)
                .write.format("wopen_snapshot")
                .mode("append")
                .save(table_path)
            )
            committed.append(rid)
        with open(out_file, "w") as f:
            json.dump({"writer": writer_id, "committed": committed}, f)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
