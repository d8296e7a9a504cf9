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
import shutil
import time
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

    def _lock(self) -> "_TableLock":
        """Mutual exclusion for mutating operations (merge /
        merge_partition / compact): concurrent writers on the same table
        serialize instead of clobbering each other's staged swaps. POSIX
        O_EXCL lockfile — correct for single-node and shared-POSIX-FS
        writers (this engine's deployment surface); on an object store,
        use a table format with a transaction log (Delta/Iceberg), not
        rename-based commits at all."""
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        return _TableLock(self.path + ".lock")

    def _partition_field(self) -> str | None:
        """Detect a hive partition layout from the directory names
        (``field=value`` subdirs). None for flat tables."""
        if not os.path.isdir(self.path):
            return None
        for d in os.listdir(self.path):
            if "=" in d and os.path.isdir(os.path.join(self.path, d)):
                return d.split("=", 1)[0]
        return None

    def merge(self, df: DataFrame, key: str | list[str]) -> None:
        """Keyed upsert (MERGE): rows in ``df`` replace existing rows with
        the same key; all other existing rows survive. Implemented as
        anti-join + union + staged rewrite — the parquet-directory
        equivalent of ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED
        UPDATE WHEN NOT MATCHED INSERT``. Partition layout is detected
        and re-applied, so merging into a partitioned table keeps its
        ``field=value`` directories (and the schema sidecar) intact.
        At 100 TB prefer :meth:`merge_partition` — rewriting a whole
        table for a small upsert is O(table), the anti-pattern the
        partition-scoped sibling exists to avoid."""
        keys = [key] if isinstance(key, str) else list(key)
        with self._lock():
            if not self.exists() or not self._has_data_files():
                self.write(df)
                return
            current = self.read()
            kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(df.select(*current.columns))
            _swap_rewrite(
                self.spark, self.path, merged, partition_by=self._partition_field()
            )

    def merge_partition(
        self,
        partition_date: str,
        partition_field: str,
        df: DataFrame,
        key: str | list[str],
    ) -> None:
        """Partition-scoped MERGE with a write-audit-publish commit: upsert
        ``df``'s rows into exactly one partition. Only that partition's
        directory is rewritten — every other partition's files are never
        read or touched (byte-identical after the call), so the cost is
        O(partition), not O(table). This is what BigQuery's per-date
        partition loads gave the reference for free
        (custom_search_extraction.py:215-218).

        Commit protocol: (write) stage the merged partition to a temp dir;
        (audit) re-read the staged files and verify key uniqueness and
        non-empty schema BEFORE anything visible changes — a failed audit
        aborts with the live partition untouched; (publish) two atomic
        renames swap the staged directory in.
        """
        keys = [key] if isinstance(key, str) else list(key)
        part_path = os.path.join(self.path, f"{partition_field}={partition_date}")
        new_rows = df.drop(partition_field)  # hive layout: dir carries it
        with self._lock():
            if not os.path.isdir(part_path):
                new_rows.write.mode("overwrite").parquet(part_path)
                return
            current = self.spark.read.parquet(part_path)
            kept = current.join(
                new_rows.select(*keys).distinct(), keys, "left_anti"
            )
            merged = kept.unionByName(new_rows.select(*current.columns))

            def _audit(staged: DataFrame) -> None:
                total, distinct = staged.agg(
                    F.count(F.lit(1)), F.count_distinct(*[F.col(k) for k in keys])
                ).collect()[0]
                if total == 0:
                    raise ValueError(
                        f"merge audit: staged partition {partition_date} is empty"
                    )
                if total != distinct:
                    raise ValueError(
                        f"merge audit: duplicate keys in staged partition "
                        f"{partition_date} ({total} rows, {distinct} distinct keys)"
                    )

            _swap_rewrite(self.spark, part_path, merged, audit=_audit)

    def compact(self, target_files: int = 1) -> int:
        """Small-files compaction: rewrite the table into ``target_files``
        parquet files (per partition, if the table is partitioned — the
        layout and schema sidecar are preserved) and return the file count
        before compaction. The read side of every engine pays per-file
        open/footer costs, so periodic compaction after many small
        incremental writes is standard table maintenance."""
        with self._lock():
            before = 0
            for _, _, files in os.walk(self.path):
                before += sum(1 for f in files if f.endswith(".parquet"))
            pf = self._partition_field()
            df = self.read()
            df = df.repartition(target_files, pf) if pf else df.coalesce(target_files)
            _swap_rewrite(self.spark, self.path, df, partition_by=pf)
            return before

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


class _TableLock:
    """Kernel-mediated table lock: ``fcntl.lockf`` (POSIX record lock)
    on a persistent lockfile. A crashed holder's lock is released by the
    KERNEL the moment its process dies, so there is no stale-lock
    reclamation protocol at all — every reclaim scheme over mtime/rename
    carries an unavoidable window where one waiter deletes a lock
    another waiter just validly acquired (found in review twice). The
    lockfile itself is created once and never unlinked: unlink-on-
    release would reintroduce the race (a waiter can lockf an fd whose
    path was already unlinked, i.e. lock a ghost).

    fcntl locks are per-PROCESS (threads of one process all "hold" it),
    so an in-process mutex keyed by lock path serializes threads first;
    the fcntl lock then serializes processes (and NFS clients — lockf
    maps to fcntl record locks, which NFS implements; flock does not).
    Reentrancy is not needed — mutating Table methods never nest."""

    _proc_mutexes: dict[str, "threading.Lock"] = {}
    _registry_mutex = None  # created lazily to keep import side-effects nil

    def __init__(self, lock_path: str, timeout_s: float = 120.0, stale_s: float = 600.0):
        # stale_s kept for signature compatibility; the kernel makes
        # staleness a non-concept here
        self.lock_path = lock_path
        self.timeout_s = timeout_s
        self._fd: int | None = None
        self._mutex = self._mutex_for(lock_path)

    @classmethod
    def _mutex_for(cls, path: str):
        import threading

        if cls._registry_mutex is None:
            cls._registry_mutex = threading.Lock()
        with cls._registry_mutex:
            m = cls._proc_mutexes.get(path)
            if m is None:
                m = cls._proc_mutexes[path] = threading.Lock()
            return m

    def __enter__(self) -> "_TableLock":
        import fcntl

        if not self._mutex.acquire(timeout=self.timeout_s):
            raise TimeoutError(
                f"could not acquire table lock {self.lock_path} within "
                f"{self.timeout_s}s (held by another thread?)"
            )
        try:
            deadline = time.monotonic() + self.timeout_s
            fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR, 0o644)
            while True:
                try:
                    fcntl.lockf(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    os.ftruncate(fd, 0)
                    os.write(fd, str(os.getpid()).encode())
                    self._fd = fd
                    return self
                except (BlockingIOError, PermissionError):
                    if time.monotonic() > deadline:
                        os.close(fd)
                        raise TimeoutError(
                            f"could not acquire table lock {self.lock_path} "
                            f"within {self.timeout_s}s (held by another "
                            f"process?)"
                        ) from None
                    time.sleep(0.05)
        except BaseException:
            self._mutex.release()
            raise

    def __exit__(self, *exc) -> None:
        import fcntl

        try:
            if self._fd is not None:
                fcntl.lockf(self._fd, fcntl.LOCK_UN)
                os.close(self._fd)
                self._fd = None
        finally:
            self._mutex.release()


def _swap_rewrite(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: str | None = None,
    audit=None,
) -> None:
    """Rewrite ``path`` with ``df`` via a staging directory + rename —
    the local-FS stand-in for a transactional table-format commit. The
    source must be fully materialized BEFORE the old directory goes
    away (the plan lazily re-reads it), so the staging write happens
    first and the swap is two renames. ``partition_by`` re-applies a
    hive partition layout; the schema sidecar (if any) is carried
    across the swap. ``audit`` (write-audit-publish) receives a
    DataFrame over the STAGED files and raises to abort the publish —
    on abort the live directory is untouched. On an object store, use
    a format-level ACID layer (Delta/Iceberg) instead of renames."""
    staging = path + ".staging"
    backup = path + ".old"
    shutil.rmtree(staging, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    if audit is not None:
        try:
            audit(spark.read.parquet(staging))
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
    sidecar = os.path.join(path, Table._SCHEMA_SIDECAR)
    if os.path.exists(sidecar):
        shutil.copy(sidecar, os.path.join(staging, Table._SCHEMA_SIDECAR))
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
