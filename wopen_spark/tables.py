"""Table layer — the engine's persistent-storage contract.

Re-provides the inferred ``lib/`` API of the reference (SURVEY §2.11:
``BigqueryTable.write / .exist / .create_from_schema_partition_table /
.write_partition_table``, call sites ``custom_search_extraction.py:35-42,
147-155,215-218``) on top of Parquet tables in a warehouse directory with
Spark dynamic partition overwrite giving the same idempotent
one-partition-per-run semantics as BigQuery date-partition loads.

At 100 TB the important properties are: writes go through the catalog
(partition pruning + metadata listing stay O(partitions), not O(files));
partition overwrite is dynamic (re-running a day replaces only that day);
and schemas are enforced on write from checked-in JSON schema files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wopen_spark.localframe import local_df

# BigQuery JSON schema type -> Spark type (SURVEY §1.2: the reference's
# schema files only use STRING/FLOAT/INTEGER/DATE, all NULLABLE —
# schema/custom_search.json:1-58).
_BQ_TYPE_MAP = {
    "STRING": T.StringType(),
    "FLOAT": T.DoubleType(),
    "INTEGER": T.LongType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "BOOLEAN": T.BooleanType(),
}


def schema_from_json(path: str) -> T.StructType:
    """Load a BigQuery-format JSON schema file into a StructType."""
    with open(path) as f:
        fields = json.load(f)
    return T.StructType(
        [
            T.StructField(
                fld["name"],
                _BQ_TYPE_MAP[fld["type"].upper()],
                fld.get("mode", "NULLABLE") != "REQUIRED",
            )
            for fld in fields
        ]
    )


@dataclass
class Table:
    """A warehouse table addressed as ``dataset.table``.

    Mirrors the reference's ``BigqueryTable(dataset_id, table_id)``
    (custom_search_extraction.py:35-42) with Parquet + partitionBy as the
    physical layout.
    """

    spark: SparkSession
    dataset: str
    table: str
    warehouse: str = "warehouse"

    @property
    def path(self) -> str:
        return os.path.join(self.warehouse, self.dataset, self.table)

    _SCHEMA_SIDECAR = "_wopen_schema.json"

    def exists(self) -> bool:
        """K3 conditional-create check (custom_search_extraction.py:151-155)."""
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def _has_data_files(self) -> bool:
        for _, _, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self) -> DataFrame:
        """Read the table; a freshly-created partitioned table with no data
        yet reads as an empty DataFrame with the declared schema (an empty
        partitioned parquet write produces no files to infer from)."""
        sidecar = os.path.join(self.path, self._SCHEMA_SIDECAR)
        if not self._has_data_files() and os.path.exists(sidecar):
            with open(sidecar) as f:
                schema = T.StructType.fromJson(json.load(f))
            return local_df(self.spark, [], schema)
        return self.spark.read.parquet(self.path)

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """K1 full-table overwrite load with schema from the DataFrame
        (process_open_data.py:250-258)."""
        df.write.mode(mode).parquet(self.path)

    def create_partitioned(self, schema_json: str, partition_field: str) -> None:
        """K2 create-if-missing from a JSON schema
        (custom_search_extraction.py:41-42)."""
        if self.exists():
            return
        schema = schema_from_json(schema_json)
        if partition_field not in schema.fieldNames():
            schema = schema.add(partition_field, T.DateType())
        # an empty partitioned write emits no parquet files, so persist the
        # declared schema in a sidecar that read() falls back to
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, self._SCHEMA_SIDECAR), "w") as f:
            json.dump(schema.jsonValue(), f)

    def write_partition(
        self,
        partition_date: str,
        partition_field: str,
        df: DataFrame,
        schema_json: str | None = None,
    ) -> None:
        """K2 idempotent single-partition write
        (custom_search_extraction.py:215-218): re-running a date replaces
        exactly that date's data (dynamic partition overwrite), never the
        rest of the table.
        """
        if schema_json is not None:
            target = schema_from_json(schema_json)
            cols = [
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.fields
                if f.name in df.columns
            ]
            df = df.select(*cols)
        df = df.withColumn(partition_field, F.to_date(F.lit(partition_date)))
        (
            df.write.partitionBy(partition_field)
            .mode("overwrite")  # dynamic mode: only partitions present in df
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def partitions(self, partition_field: str) -> list[str]:
        """S5 partition-metadata scan (sql/get_partitions_custom_search.sql:1-4):
        list partition values without reading data files."""
        if not self.exists():
            return []
        prefix = f"{partition_field}="
        return sorted(
            d[len(prefix) :]
            for d in os.listdir(self.path)
            if d.startswith(prefix)
        )


def read_sql(path: str, *params: str) -> str:
    """Load a ``.sql`` file and substitute ``{0}``-style positional params
    (reference ``read_sql``, custom_search_extraction.py:53-55)."""
    with open(path) as f:
        return f.read().format(*params)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the driver's parquet tables as temp views and return them.

    Parquet scans keep column pruning + predicate pushdown (verify with
    ``df.explain``: PushedFilters / ReadSchema). A single-file table is
    read with the schema of its footer (``registry._footer_schema``), so
    registering the views runs no schema-inference job; each view keeps
    the schema Spark infers (no ``_t``-style ``ts`` conversion).
    """
    from wopen_spark.queries.registry import _footer_schema

    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            schema = _footer_schema(spark, p)
            reader = spark.read if schema is None else spark.read.schema(schema)
            df = reader.parquet(p)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
