"""Single-slice local DataFrames for bounded metadata/fixture rows.

``spark.createDataFrame(rows, schema)`` on a Python list parallelizes it
into ``defaultParallelism`` slices (32 on the bench machine). Every slice
is a *Python* partition: any consumer that computes them through one task
— a ``coalesce(1)`` write, a broadcast build, the single reducer of a
tiny frame — pays one Python-worker round-trip *per slice, sequentially*
(~0.1 s each, so ~4 s per empty-frame write at 32 cores; measured r10).
The frames this engine builds driver-side are bounded metadata (commit
probes, codebooks, DESCRIBE output, empty-schema creates), so one slice
is always the right layout: the data is tiny and the first thing most
consumers do is collapse it anyway.

``local_df`` keeps ``createDataFrame``'s schema contract: a passed
StructType is used verbatim (nullability included). Empty all-nullable
frames skip Python entirely via a JVM-native ``range(0)`` projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The engine's driver-side row budget: a frame known to hold at most this
# many rows may be fetched to (or broadcast from) the driver and resolved
# there. Four driver paths size by it: bounded connected components
# (operators.graph), the per-distinct broadcast gate (queries.registry),
# bounded dv merges and bounded snapshot reads (snapshot_table).
DRIVER_MAX_ROWS = 100_000
# The driver-side byte budget, in on-disk parquet bytes: a bounded
# snapshot read also stays within it, and a deletion-vector mask side at
# most this large is broadcast ((file, row) pairs RLE-compress hard; 32 MiB
# on disk is roughly a few hundred MB of hash relation).
DRIVER_MAX_BYTES = 32 << 20


def local_df(
    spark: SparkSession,
    rows,
    schema: T.StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` on ONE slice.

    ``schema`` must be explicit (StructType or DDL string) — schema
    inference over an RDD would run sampling jobs, the opposite of the
    point.
    """
    if not isinstance(schema, T.StructType):
        schema = T._parse_datatype_string(schema)
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows and all(f.nullable for f in schema.fields):
        # pure-JVM empty relation: no Python partitions at all. Only
        # when every field is nullable — lit(NULL).cast() cannot express
        # a non-nullable column, and callers passing a schema expect it
        # back verbatim.
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )
