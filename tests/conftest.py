from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Dummy AWS credentials BEFORE any SparkSession starts: local-mode Python
# workers inherit the JVM's environment at launch, and the moto-server
# datasource tests need executors' boto3 clients to find credentials via
# the standard chain (moto accepts any). setdefault keeps real creds.
os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def upsert(table, df, key, mode="cow"):
    """Plain keyed upsert through ``SnapshotTable.merge_into``: a matched
    target row takes every source column, an unmatched source row is
    inserted."""
    return table.merge_into(
        df,
        key,
        matched=[
            {"action": "update", "cond": None, "set": {c: f"s.{c}" for c in df.columns}}
        ],
        not_matched=[{"action": "insert", "cond": None}],
        mode=mode,
    )


@pytest.fixture(scope="session")
def spark():
    from wopen_spark.session import get_spark

    s = get_spark("wopen-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from wopen_spark.tables import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
