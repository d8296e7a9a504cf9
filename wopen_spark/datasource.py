"""``wopen_snapshot`` — SnapshotTable as a first-class Spark data source
(the Spark 4 Python Data Source API), so the table format plugs into the
standard reader surfaces instead of requiring the SnapshotTable class:

    from wopen_spark.datasource import register_snapshot_datasource
    register_snapshot_datasource(spark)

    spark.read.format("wopen_snapshot").load(path)              # snapshot
    spark.read.format("wopen_snapshot").option("version", 3).load(path)
    spark.read.format("wopen_snapshot").option(                 # time travel
        "timestampAsOf", "2026-01-01T00:00:00").load(path)
    (spark.read.format("wopen_snapshot")                        # batch CDF
         .option("readChangeFeed", "true")
         .option("afterVersion", 2)
         .option("endingVersion", 7).load(path))
    (spark.readStream.format("wopen_snapshot")                  # CDF stream
         .option("readChangeFeed", "true")
         .option("afterVersion", 0)
         .option("onVacuumedStart", "snapshot")   # vacuum recovery
         .load(path))
    spark.read.format("wopen_snapshot").option(                 # by NAME
        "catalogRoot", root).load("wopen://crm.events")
    df.write.format("wopen_snapshot").option(                   # evolution
        "mergeSchema", "true").mode("append").save(path)

Batch reads plan one Spark task per ~128 MB file GROUP (Spark's own
scan split-packing formula, with a per-file open cost so tiny files
still amortize — a 10k-file table plans ~bytes/128MB Python tasks, not
10k) and apply deletion vectors merge-on-read; Catalyst filter pushdown
prunes files by footer min/max stats and bloom sidecars BEFORE tasks
launch (`pushFilters`), so a point read on a 10k-file table schedules
a handful of tasks. The
streaming source emits the change feed (`_change_type`,
`_commit_version`) with table versions as offsets — commits are the
atomic unit of progress, so a micro-batch never observes half a commit;
restart resumes from the checkpointed version.

Executor-side reads go through pyarrow over a DataStore handle (a Spark
task cannot re-enter Spark), so the standard surface reaches every root
with a Python-native client: POSIX paths (local disk, NFS, fuse
mounts), ``file://`` URIs, and ``s3://``/``s3a://`` object stores
(boto3 — partitions carry the store spec, executors open objects
directly; pass ``.option("s3_endpoint", ...)`` / ``("s3_region", ...)``
for non-default endpoints, credentials come from the standard AWS
chain). Writes ride the same store: executors spool parquet shards
locally and publish them with a streaming upload; the driver lands ONE
atomic log commit. Schemes with no Python-native client in this
environment (hdfs/abfs/gs) raise loudly — the SnapshotTable class with
its HadoopFs stores stays the surface for those.

Reference parity: the reference reads its tables through pandas-gbq
(/root/reference/custom_search_extraction.py:215) — a query-engine
front door over a transactional table; this module is the Spark-native
equivalent for the engine's own table format.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import uuid

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from wopen_spark.session import default_cpus
from wopen_spark.snapshot_table import (
    _NO_TABLE,
    LocalDataStore,
    S3ConditionalPutLogStore,
    S3DataStore,
    SnapshotTable,
    VacuumedVersionError,
    _entry_batches,
    uri_to_path,
)

_CDF_FIELDS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.IntegerType()),
]


def _store_spec(path: str, options) -> dict:
    """The picklable store description a partition carries so EXECUTORS
    can open table bytes without Spark: local roots and file:// URIs map
    to direct POSIX reads; s3:// carries the uri + endpoint/region (the
    boto3 client is built task-side from the standard credential
    chain — secrets never ride the pickle wire)."""
    if "://" not in path:
        return {"kind": "local", "root": path}
    scheme = path.split("://", 1)[0].lower()
    if scheme == "file":
        return {"kind": "local", "root": uri_to_path(path)}
    if scheme in ("s3", "s3a"):
        return {
            "kind": "s3",
            "uri": f"s3://{path.split('://', 1)[1]}",
            "endpoint": options.get("s3_endpoint") or None,
            "region": options.get("s3_region") or None,
        }
    raise ValueError(
        f"wopen_snapshot executors need a Python-native client for the "
        f"table root; {scheme}:// has none here (supported: local paths, "
        f"file://, s3://) — use the SnapshotTable class with its "
        f"HadoopFs stores for {scheme} tables"
    )


def _s3_client(spec: dict):
    import boto3

    kw = {}
    if spec.get("endpoint"):
        kw["endpoint_url"] = spec["endpoint"]
    if spec.get("region"):
        kw["region_name"] = spec["region"]
    return boto3.client("s3", **kw)


_STORE_CACHE: dict[str, object] = {}


def _store_from_spec(spec: dict):
    """Executor-side DataStore construction from a partition's spec.
    Memoized per process — Python workers are reused across tasks, so
    one boto3 client (and one scratch dir) serves every task this
    worker runs against the same table."""
    key = json.dumps(spec, sort_keys=True)
    store = _STORE_CACHE.get(key)
    if store is not None:
        return store
    if spec["kind"] == "local":
        store = LocalDataStore(spec["root"])
    elif spec["kind"] == "s3":
        import tempfile

        store = S3DataStore(
            spec["uri"],
            tempfile.mkdtemp(prefix="wopen-ds-exec-"),
            client=_s3_client(spec),
        )
    else:
        raise ValueError(f"unknown store spec kind {spec.get('kind')!r}")
    _STORE_CACHE[key] = store
    return store


_DRIVER_TABLE_CACHE: dict[str, SnapshotTable] = {}


def _resolve_table(path: str, options) -> SnapshotTable:
    """Driver-side handle. Local roots and file:// replay the log with
    zero Spark; s3:// wires the conditional-PUT log store + boto3 data
    store from the same options the partitions carry.

    Memoized per store-spec key (the executor-side ``_STORE_CACHE``
    twin): a streaming query calls this every ``latestOffset`` trigger
    and again in ``commit()``, so a fresh mkdtemp + boto3 client per
    call would leak temp dirs unboundedly and re-download parquet
    footers into a cold cache every micro-batch."""
    spec = _store_spec(path, options)  # validates the scheme
    key = json.dumps(spec, sort_keys=True)
    cached = _DRIVER_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if spec["kind"] == "local":
        # spark unused for local metadata traffic
        table = SnapshotTable(None, spec["root"])  # type: ignore[arg-type]
    else:
        import tempfile

        client = _s3_client(spec)
        table = SnapshotTable(
            None,  # type: ignore[arg-type]
            spec["uri"],
            log_store=S3ConditionalPutLogStore(
                f"{spec['uri']}/_log", client=client
            ),
            data_store=S3DataStore(
                spec["uri"], tempfile.mkdtemp(prefix="wopen-ds-drv-"), client=client
            ),
        )
    _DRIVER_TABLE_CACHE[key] = table
    return table


def _resolve_version(table: SnapshotTable, options) -> int | None:
    """Time travel from options: ``version`` (int) or ``timestampAsOf``
    (unix seconds, or an ISO-8601 datetime — naive strings are UTC),
    mutually exclusive; None = latest."""
    has_v = "version" in options
    has_ts = "timestampasof" in options
    if has_v and has_ts:
        raise ValueError("pass either version or timestampAsOf, not both")
    if has_v:
        return int(options["version"])
    if not has_ts:
        return None
    raw = str(options["timestampasof"])
    try:
        ts = float(raw)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        ts = dt.timestamp()
    return table._version_asof(ts)


@dataclass(frozen=True)
class _FileTask(InputPartition):
    """One Spark task = one GROUP of data files (each with the dv masks
    and change tagging it needs). Plain strings/tuples/dicts only — this
    crosses the pickle wire. Paths are log-relative; ``store`` says how
    to open them.

    ``files`` holds one entry per data file:
    ``(file_rel, dv_rel, semi_rel, change_type, commit_version)``.
    Grouping follows Spark's own scan split-packing (guide §6): a task
    targets ``min(maxPartitionBytes, max(openCost, total/minTasks))``
    bytes with each file charged an open cost, so a 10k-file table plans
    ~bytes/128MB tasks instead of 10k one-file Python tasks, while small
    tables keep one file per task (full parallelism, and pruning tests
    keep their partition-count semantics)."""

    files: tuple  # ((file_rel, dv_rel, semi_rel, change_type, version), ...)
    store_json: str  # _store_spec output
    schema_json: str
    mapping_json: str  # logical -> physical (identity when empty)


_OPEN_COST_BYTES = 4 * 1024 * 1024  # spark.sql.files.openCostInBytes default
_MAX_TASK_BYTES = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default


def _group_file_entries(
    entries: list[tuple],
    sizes: list[int],
    store_json: str,
    schema_json: str,
    mapping_json: str,
    options=None,
) -> list["_FileTask"]:
    """Pack per-file entries into _FileTask groups by Spark's split
    formula: target = min(maxPartitionBytes, max(openCost,
    (total bytes + n*openCost) / minTasks)). The read option ``minTasks``
    overrides the minTasks default per read. The plan worker has no
    SparkSession, so that default (Spark's ``leafNodeDefaultParallelism``)
    is the session factory's core count."""
    opts = options or {}
    min_tasks = int(opts.get("mintasks", default_cpus()))
    charged = [s + _OPEN_COST_BYTES for s in sizes]
    target = min(
        _MAX_TASK_BYTES, max(_OPEN_COST_BYTES, sum(charged) // max(1, min_tasks))
    )
    out: list[_FileTask] = []
    group: list[tuple] = []
    acc = 0
    for entry, cost in zip(entries, charged):
        if group and acc + cost > target:
            out.append(
                _FileTask(
                    files=tuple(group),
                    store_json=store_json,
                    schema_json=schema_json,
                    mapping_json=mapping_json,
                )
            )
            group, acc = [], 0
        group.append(entry)
        acc += cost
    if group:
        out.append(
            _FileTask(
                files=tuple(group),
                store_json=store_json,
                schema_json=schema_json,
                mapping_json=mapping_json,
            )
        )
    return out


def _task_rows(task: _FileTask):
    """Executor-side: the group's rows through ``_entry_batches``, the
    reader the driver-side snapshot reads use too, over the partition's
    DataStore. Schema and mapping are parsed and the store opened ONCE
    per task, however many files the group holds."""
    yield from _entry_batches(
        _store_from_spec(json.loads(task.store_json)),
        task.files,
        T.StructType.fromJson(json.loads(task.schema_json)),
        json.loads(task.mapping_json),
    )


class _SnapshotBatchReader(DataSourceReader):
    """Snapshot read: one task per live file, deletion vectors applied
    merge-on-read. File skipping lives in the ``_SnapshotBatchReaderPushdown``
    subclass — Spark refuses a reader that merely IMPLEMENTS pushFilters
    unless ``spark.sql.python.filterPushdown.enabled`` is on, so the
    pushdown variant is chosen only when the caller opts in."""

    def __init__(self, path: str, options):
        self.path = path
        self.options = options
        self._eq: dict[str, object] = {}  # col -> point value (bloom + stats)
        self._lo: dict[str, object] = {}  # col -> lower bound
        self._hi: dict[str, object] = {}  # col -> upper bound

    def _collect_bounds(self, filters):
        # eager, not a generator: the bound-collection side effects must
        # land before partitions() regardless of whether Spark drains the
        # returned iterable
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col is None:
                continue
            try:
                if isinstance(f, EqualTo):
                    self._eq[col] = f.value
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    prev = self._lo.get(col)
                    self._lo[col] = f.value if prev is None else max(prev, f.value)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    prev = self._hi.get(col)
                    self._hi[col] = f.value if prev is None else min(prev, f.value)
                elif isinstance(f, In) and f.values:
                    vals = list(f.values)
                    self._lo[col], self._hi[col] = min(vals), max(vals)
            except TypeError:
                pass  # un-orderable literal: no bound, no pruning

    def _skip(self, table: SnapshotTable, state: dict, meta: dict) -> bool:
        ranges = {}
        for col in {*self._eq, *self._lo, *self._hi}:
            point = self._eq.get(col)
            ranges[col] = (
                (point, point) if point is not None
                else (self._lo.get(col), self._hi.get(col))
            )
        return table._refuted_by(state, meta, ranges) is not None

    def partitions(self):
        table = _resolve_table(self.path, self.options)
        state = table._state(_resolve_version(table, self.options))
        rels = [
            rel
            for rel, meta in sorted(state["files"].items())
            if not self._skip(table, state, meta)
        ]
        return _group_file_entries(
            table._live_entries(state, rels),
            [int(state["files"][rel].get("bytes", 0)) for rel in rels],
            json.dumps(_store_spec(self.path, self.options)),
            json.dumps(state["schema"]),
            json.dumps(state["column_mapping"] or {}),
            self.options,
        )

    def read(self, partition):
        if partition is None:  # Spark substitutes [None] for an empty
            return             # partition list (empty table / all pruned)
        yield from _task_rows(partition)


class _SnapshotBatchReaderPushdown(_SnapshotBatchReader):
    """The file-skipping variant: Catalyst hands conjunctive filters to
    ``pushFilters`` and partitions() skips files their footer stats or
    bloom sidecars refute. Selected by ``.option("pushdown", "true")``
    because Spark hard-errors on ANY reader implementing pushFilters
    while ``spark.sql.python.filterPushdown.enabled`` is false — the
    caller enabling that conf is the opt-in signal."""

    def pushFilters(self, filters):
        self._collect_bounds(filters)
        # every filter is re-applied by Spark: stats/bloom skipping is
        # pruning, never evaluation — exactness cannot depend on it
        return list(filters)


def _exclusive_start(options) -> int:
    """The shared CDF start-bound parse: EXCLUSIVE — changes AFTER it,
    matching ``read_changes(from_version)`` everywhere (``0`` =
    everything). The explicit spelling is ``afterVersion``;
    ``startingVersion`` is an alias with the SAME exclusive meaning —
    note this differs from Delta's identically-named option, which
    includes commit N itself (ask for ``N-1`` here to see commit N)."""
    if "afterversion" in options and "startingversion" in options:
        raise ValueError(
            "pass either afterVersion or startingVersion, not both "
            "(they are the same exclusive bound)"
        )
    return int(options.get("afterversion", options.get("startingversion", "0")))


def _cdf_schema_json(state: dict) -> str:
    """The table schema at ``state`` plus the change-feed tag columns."""
    schema = T.StructType.fromJson(state["schema"])
    for f in _CDF_FIELDS:
        schema = schema.add(f)
    return json.dumps(schema.jsonValue())


def _cdf_tasks(
    table: SnapshotTable, store_json: str, lo: int, hi: int, options=None
) -> list:
    """File-group tasks for the change entries of the commits in (lo, hi]
    (``SnapshotTable._change_entries``, the list ``read_changes`` reads
    too) — shared by the streaming source and the batch CDF reader, so
    every surface emits the same change rows. Raises the typed
    VacuumedVersionError on the DRIVER for a vacuumed range, never as a
    generic executor task retry."""
    state, entries, metas = table._change_entries(lo, hi)
    # a semi entry emits only its newly-masked rows: charged no bytes
    sizes = [
        0 if semi else int(m.get("bytes", 0))
        for (_, _, semi, _, _), m in zip(entries, metas)
    ]
    return _group_file_entries(
        entries, sizes, store_json, _cdf_schema_json(state),
        json.dumps(state["column_mapping"] or {}), options,
    )


def _on_vacuumed(options) -> str:
    """``onVacuumedStart``: what a CDF read does when its starting
    version's change files are vacuumed. ``raise`` (default) surfaces
    the typed VacuumedVersionError; ``snapshot`` serves the FULL table
    snapshot at the range head as one batch of rows tagged
    ``_change_type = 'snapshot'`` and lets the offset jump past the
    vacuumed gap — the ``ChangeFeedLoader.resync`` contract surfaced
    through the standard reader. The distinct tag (Debezium's snapshot
    ``op: r`` precedent) is load-bearing: an all-"insert" recovery
    batch would be indistinguishable from an ordinary append commit,
    and a consumer MUST replace (not fold into) its state when one
    arrives — ``_change_type = 'snapshot'`` makes that a one-predicate
    check. The Delta analogue is ``failOnDataLoss=false``, which
    silently SKIPS the gap — serving the snapshot instead means the
    consumer can actually recover, not just ignore the hole."""
    v = str(options.get("onvacuumedstart", "raise")).lower()
    if v not in ("raise", "snapshot"):
        raise ValueError(
            f"onVacuumedStart must be 'raise' or 'snapshot', got {v!r}"
        )
    return v


def _snapshot_recovery_tasks(
    table: SnapshotTable, store_json: str, version: int, options=None
) -> list:
    """Every live file at ``version`` as snapshot-tagged file-group tasks
    (dv masks applied, ``_commit_version = version``) — the vacuum-
    recovery batch both CDF surfaces emit under
    ``onVacuumedStart=snapshot``."""
    state = table._state(version)
    rels = sorted(state["files"])
    return _group_file_entries(
        table._live_entries(state, rels, "snapshot", version),
        [int(state["files"][rel].get("bytes", 0)) for rel in rels],
        store_json,
        _cdf_schema_json(state),
        json.dumps(state["column_mapping"] or {}),
        options,
    )


class _SnapshotCdfBatchReader(DataSourceReader):
    """BATCH change-feed read — ``spark.read.format("wopen_snapshot")
    .option("readChangeFeed", "true")`` — the Delta batch-CDF surface
    over the same task builder the streaming source uses. Bounds:
    ``afterVersion``/``startingVersion`` (exclusive, see
    ``_exclusive_start``) and ``endingVersion`` (inclusive, default the
    table head)."""

    def __init__(self, path: str, options):
        self.path = path
        self.options = options
        self.starting = _exclusive_start(options)
        self.ending = (
            int(options["endingversion"]) if "endingversion" in options else None
        )
        self.on_vacuumed = _on_vacuumed(options)

    def partitions(self):
        table = _resolve_table(self.path, self.options)
        head = table.latest_version()
        hi = head if self.ending is None else self.ending
        if hi is None or hi <= self.starting:
            return []
        store_json = json.dumps(_store_spec(self.path, self.options))
        try:
            return _cdf_tasks(table, store_json, self.starting, hi, self.options)
        except VacuumedVersionError:
            if self.on_vacuumed != "snapshot":
                raise
            return _snapshot_recovery_tasks(table, store_json, hi, self.options)

    def read(self, partition):
        if partition is None:
            return
        yield from _task_rows(partition)


class _SnapshotCdfStreamReader(DataSourceStreamReader):
    """The change feed as a Structured Streaming source: offsets are
    table versions, a micro-batch is the commits in (start, end] — one
    task per changed file, read executor-side. Version-bound semantics
    per ``_exclusive_start`` (exclusive; ``afterVersion`` is the
    explicit spelling)."""

    def __init__(self, path: str, options):
        self.path = path
        self.options = options
        self.starting = _exclusive_start(options)
        self.on_vacuumed = _on_vacuumed(options)

    def initialOffset(self):
        return {"version": self.starting}

    def latestOffset(self):
        head = _resolve_table(self.path, self.options).latest_version()
        return {"version": int(head if head is not None else self.starting)}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        if hi <= lo:
            return []
        table = _resolve_table(self.path, self.options)
        store_json = json.dumps(_store_spec(self.path, self.options))
        try:
            return _cdf_tasks(table, store_json, lo, hi, self.options)
        except VacuumedVersionError:
            # a consumer stranded behind a vacuum (checkpoint restart
            # after falling past retention) recovers by folding the head
            # snapshot as one all-inserts micro-batch; the checkpointed
            # offset then advances to hi like any other batch
            if self.on_vacuumed != "snapshot":
                raise
            return _snapshot_recovery_tasks(table, store_json, hi, self.options)

    def read(self, partition):
        if partition is None:
            return
        yield from _task_rows(partition)

    def commit(self, end):
        pass  # progress lives in the stream checkpoint, not the table


@dataclass
class _ShardMessage(WriterCommitMessage):
    rels: tuple  # log-relative parquet paths this task wrote


class _SnapshotWriter(DataSourceArrowWriter):
    """``df.write.format("wopen_snapshot")`` — append/overwrite/create
    through the table's transactional log. Executors stream their arrow
    batches into one parquet shard each under a fresh ``data/<uuid>``
    commit dir (physical column names, zstd); the driver-side commit
    derives footer stats + bloom sidecars per shard (the same
    ``_add_action`` the engine write paths use) and lands ONE atomic
    log record; abort deletes the orphan shards. The record goes
    through the table's commit funnel: a lost append race rebases onto
    the new head (add-only commits commute, files are never rewritten);
    a lost overwrite or create race raises ``CommitConflictError``, so
    the other writer's commit is never dropped.

    Honest boundaries: tables with CHECK constraints or generated
    columns refuse this path at PLAN time (enforcement needs the engine
    — use ``SnapshotTable.append``). By default the input schema must
    equal the table's logical schema exactly; ``.option("mergeSchema",
    "true")`` enables the engine's evolution rules instead — new columns
    append as nullable (minting mapped physical names when a retired
    physical collides), lossless type WIDENING
    (byte<short<int<long, float<double) widens the table schema, a
    narrower input casts up at write, subset schemas append with the
    absent columns reading NULL, and anything else still refuses at
    plan time. Roots: local paths, file://, and s3:// (shards spool to
    executor scratch and publish with a streaming upload — never
    whole-shard in memory)."""

    def __init__(self, path: str, schema, overwrite: bool, options):
        table = _resolve_table(path, options)
        self.path = path
        self.store_json = json.dumps(_store_spec(path, options))
        self.options = options
        self.overwrite = overwrite
        self.merge_schema = (
            str(options.get("mergeschema", "false")).lower() == "true"
        )
        self.commit_dir = f"data/{uuid.uuid4().hex}"
        exists = table.latest_version() is not None
        self.create = not exists
        self.cluster_by = None
        if self.create and options.get("clusterby"):
            # declared layout on CREATE: recorded in the table spec
            # (future engine writes range-cluster on it) and the leading
            # key gets bloom sidecars on these very shards. The writer
            # cannot re-shuffle executor-side — pre-shape the frame with
            # df.repartitionByRange(...) for tight per-file ranges.
            cols = [c.strip() for c in options["clusterby"].split(",") if c.strip()]
            unknown = [c for c in cols if c not in schema.fieldNames()]
            if unknown:
                raise ValueError(
                    f"clusterBy references unknown column(s): {unknown}"
                )
            self.cluster_by = cols
        mapping = None
        table_schema_json = schema.jsonValue()
        if exists:
            state = table._state()
            if self.merge_schema:
                _refuse_features(state)
                # plan-time merge: raises on incompatible types; the
                # commit re-merges against the then-head (append path)
                merged, new_mapping = table._merged_schema(state, schema)
                table_schema_json = merged
                mapping = (
                    new_mapping
                    if new_mapping is not None
                    else state["column_mapping"]
                )
                # shards carry the MERGED (widened) types for the input
                # columns, so narrow input casts up at write
                merged_types = {
                    f["name"]: f for f in merged["fields"]
                }
                schema = T.StructType.fromJson(
                    {
                        "type": "struct",
                        "fields": [
                            merged_types[f.name] for f in schema.fields
                        ],
                    }
                )
            else:
                _writer_refusals(state, schema)
                mapping = state["column_mapping"]
            self.cluster_by = state["cluster_by"]
        self.schema_json = json.dumps(schema.jsonValue())
        self.table_schema_json = json.dumps(table_schema_json)
        self.mapping_json = json.dumps(mapping or {})

    def write(self, iterator):
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = T.StructType.fromJson(json.loads(self.schema_json))
        mapping = json.loads(self.mapping_json)
        arrow = to_arrow_schema(schema)
        phys_names = [mapping.get(f.name, f.name) for f in arrow]
        phys = pa.schema(
            [f.with_name(p) for f, p in zip(arrow, phys_names)]
        )
        rel = f"{self.commit_dir}/part-{uuid.uuid4().hex}.parquet"
        spec = json.loads(self.store_json)
        if spec["kind"] == "local":
            # fast path: write straight to the final location (the
            # commit protocol never trusts un-manifested files)
            dest = os.path.join(spec["root"], rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
        else:
            dest = os.path.join(
                tempfile.mkdtemp(prefix="wopen-ds-shard-"), "shard.parquet"
            )
        writer, n = None, 0
        for batch in iterator:
            t = (
                pa.Table.from_batches([batch])
                .cast(arrow, safe=False)
                .rename_columns(phys_names)
            )
            if writer is None:
                writer = pq.ParquetWriter(dest, phys, compression="zstd")
            writer.write_table(t)
            n += t.num_rows
        if writer is None:
            return _ShardMessage(rels=())
        writer.close()
        if n == 0:
            os.remove(dest)
            return _ShardMessage(rels=())
        if spec["kind"] != "local":
            _store_from_spec(spec).put_file(rel, dest)  # streaming upload
        return _ShardMessage(rels=(rel,))

    def commit(self, messages):
        table = _resolve_table(self.path, self.options)
        rels = sorted(r for m in messages if m is not None for r in m.rels)
        mapping = json.loads(self.mapping_json)
        write_schema = T.StructType.fromJson(json.loads(self.schema_json))
        bloom_phys = (
            mapping.get(self.cluster_by[0], self.cluster_by[0])
            if self.cluster_by
            else None
        )
        adds = table._add_actions(rels, bloom_phys)
        if self.create:
            table._commit(
                _NO_TABLE,
                {
                    "operation": "create",
                    "schema": json.loads(self.table_schema_json),
                    "cluster_by": self.cluster_by,
                    "add": adds,
                    "remove": [],
                },
            )
            return

        def record(head: dict) -> dict:
            # the plan-time refusals must still hold against the head a
            # lost race rebases onto; mergeSchema re-merges, and a
            # racer's rename under the written shards raises
            if self.merge_schema:
                _refuse_features(head)
                fields = table._remerge(head, write_schema, mapping)
            else:
                _writer_refusals(head, write_schema)
                fields = {"schema": head["schema"]}
            return {
                "operation": "overwrite" if self.overwrite else "append",
                **fields,
                "add": adds,
                "remove": sorted(head["files"]) if self.overwrite else [],
            }

        # an overwrite does not commute: a lost race raises, and abort
        # deletes the shards
        state = table._state()
        table._commit(state, record(state), None if self.overwrite else record)

    def abort(self, messages):
        store = _store_from_spec(json.loads(self.store_json))
        for m in messages:
            if m is None:
                continue
            for rel in m.rels:
                # the sidecar too: commit() may have written blooms via
                # _add_action before failing (e.g. 5 lost races) — an
                # orphaned .bloom is invisible to vacuum's file sweep
                # and would pin its commit dir forever
                for p in (rel, f"{rel}.bloom"):
                    try:
                        store.delete(p)
                    except FileNotFoundError:
                        pass


class _SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("wopen_snapshot")`` — the exactly-once
    streaming append sink through Spark's standard API: each micro-batch
    lands as ONE atomic log commit carrying the epoch id as its
    transaction version (``.option("txnApp", ...)`` names the writer),
    so a replayed epoch — crash-rerun, checkpoint reset, speculative
    re-execution — commits nothing and its shards stay uncommitted
    orphans for vacuum's grace sweep. The same ``txnAppId/txnVersion``
    idempotency `SnapshotTable.streaming_sink` gives foreachBatch users,
    here with zero user code. Creates the table (empty, with the stream
    schema) if absent. Same honest boundaries as the batch writer:
    exact schema, no constraints/generated columns; local, file:// and
    s3:// roots."""

    def __init__(self, path: str, schema, options):
        self.txn_app = options.get("txnapp") or options.get("txnappid")
        if not self.txn_app:
            raise ValueError(
                "the wopen_snapshot streaming sink needs "
                '.option("txnApp", "<writer name>") — the stable identity '
                "its exactly-once high-water mark is keyed on"
            )
        table = _resolve_table(path, options)
        self.path = path
        self.store_json = json.dumps(_store_spec(path, options))
        self.options = options
        self.commit_dir = f"data/{uuid.uuid4().hex}"
        if table.latest_version() is None:
            # create-if-absent: a sink that loses the create race to
            # another sink takes the winner's table, and the refusals
            # below check the input against its schema
            table._commit(
                _NO_TABLE,
                {
                    "operation": "create",
                    "schema": schema.jsonValue(),
                    "cluster_by": None,
                    "add": [],
                    "remove": [],
                },
                rebase=lambda head: None,
            )
        state = table._state()
        _writer_refusals(state, schema)
        self.schema_json = json.dumps(schema.jsonValue())
        self.mapping_json = json.dumps(state["column_mapping"] or {})
        self.cluster_by = state["cluster_by"]

    write = _SnapshotWriter.write  # identical shard protocol

    def _cleanup(self, rels):
        store = _store_from_spec(json.loads(self.store_json))
        for rel in rels:
            # data shard AND any bloom sidecar _add_action wrote for it:
            # vacuum only deletes a sidecar together with its data file,
            # so a sidecar left behind here would be unreclaimable and
            # keep its commit dir from ever being swept
            for p in (rel, f"{rel}.bloom"):
                try:
                    store.delete(p)
                except FileNotFoundError:
                    pass

    def commit(self, messages, batchId: int):
        table = _resolve_table(self.path, self.options)
        rels = sorted(r for m in messages if m is not None for r in m.rels)
        # replayed-epoch check FIRST: deriving add-actions writes bloom
        # sidecars for clustered tables, and a replay's _cleanup must not
        # have sidecars to leak in the first place
        state = table._state()
        if table._txn_seen(self.txn_app, batchId, state):
            self._cleanup(rels)  # replayed epoch: already committed
            return
        mapping = json.loads(self.mapping_json)
        bloom_phys = (
            mapping.get(self.cluster_by[0], self.cluster_by[0])
            if self.cluster_by
            else None
        )
        adds = table._add_actions(rels, bloom_phys)
        schema = T.StructType.fromJson(json.loads(self.schema_json))

        def record(head: dict) -> dict:
            _writer_refusals(head, schema)
            return {
                "operation": "append",
                "schema": head["schema"],
                "add": adds,
                "remove": [],
                "txn_app": self.txn_app,
                "txn_version": batchId,
            }

        if table._commit(state, record(state), record) is None:
            self._cleanup(rels)  # lost the race to a concurrent replay

    def abort(self, messages, batchId: int):
        self._cleanup(
            [r for m in messages if m is not None for r in m.rels]
        )


def _refuse_features(state: dict) -> None:
    """Writer guards shared by both schema modes: table features the
    datasource path cannot enforce post-hoc."""
    if state["constraints"]:
        raise ValueError(
            "wopen_snapshot writer cannot enforce CHECK constraints "
            f"({sorted(state['constraints'])}); use SnapshotTable.append"
        )
    if state["generated"]:
        raise ValueError(
            "wopen_snapshot writer cannot compute generated columns "
            f"({sorted(state['generated'])}); use SnapshotTable.append"
        )
    if state.get("identity"):
        raise ValueError(
            "wopen_snapshot writer cannot assign identity columns "
            f"({sorted(state['identity'])}); use SnapshotTable.append"
        )


def _writer_refusals(state: dict, schema) -> None:
    """Exact-schema-mode guards (the default): no unenforceable table
    features, input schema equals the table's logical schema. Pass
    ``.option("mergeSchema", "true")`` for additive/widening evolution
    instead."""
    _refuse_features(state)
    table_schema = T.StructType.fromJson(state["schema"])
    if [(f.name, f.dataType.simpleString()) for f in schema.fields] != [
        (f.name, f.dataType.simpleString()) for f in table_schema.fields
    ]:
        raise ValueError(
            "input schema must equal the table schema exactly (pass "
            '.option("mergeSchema", "true") for additive/widening '
            f"evolution): input {schema.simpleString()} vs "
            f"table {table_schema.simpleString()}"
        )


class SnapshotTableDataSource(DataSource):
    """``format("wopen_snapshot")`` — batch snapshot reads (``version`` /
    ``timestampAsOf`` time travel, file-skipping filter pushdown), batch
    AND streaming change-feed reads (``readChangeFeed`` +
    ``afterVersion``/``endingVersion``), and batch/streaming writes over
    a SnapshotTable.

    Tables are addressed by PATH (``.load("/tables/events")``) or by
    REGISTERED NAME through a :class:`wopen_spark.catalog.Catalog` —
    ``.load("wopen://crm.events")`` or ``.option("table", "crm.events")``
    — with the catalog root from ``.option("catalogRoot", ...)`` or the
    ``WOPEN_CATALOG_ROOT`` environment variable. Name resolution happens
    ONCE here on the driver: the entry's path and store options
    (s3_endpoint/...) merge into the options every partition then
    carries, so executors are catalog-oblivious (caller options win on
    conflict)."""

    def __init__(self, options):
        super().__init__(options)
        opts = {str(k).lower(): v for k, v in dict(options).items()}
        p = opts.get("path") or ""
        name = p[len("wopen://"):] if p.startswith("wopen://") else opts.get("table")
        if name:
            from wopen_spark.catalog import Catalog

            root = opts.get("catalogroot") or os.environ.get("WOPEN_CATALOG_ROOT")
            if not root:
                raise ValueError(
                    f"resolving table name {name!r} needs a catalog root: "
                    '.option("catalogRoot", ...) or WOPEN_CATALOG_ROOT'
                )
            try:
                # an s3:// catalog root reuses the caller's endpoint/region
                # options (registry and tables share the object store in
                # any sane deployment; per-entry options still win below)
                entry = Catalog(
                    root,
                    s3_endpoint=opts.get("s3_endpoint"),
                    s3_region=opts.get("s3_region"),
                ).resolve(name)
            except KeyError:
                raise ValueError(
                    f"table {name!r} is not registered in the catalog at "
                    f"{root!r}"
                ) from None
            merged = {str(k).lower(): v for k, v in entry["options"].items()}
            merged.update(opts)
            merged["path"] = entry["path"]
            self.options = merged

    @classmethod
    def name(cls):
        return "wopen_snapshot"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError(
                "wopen_snapshot requires a table path (.load(path) / "
                ".load('wopen://name')) or a registered name "
                "(.option('table', 'dataset.table'))"
            )
        return p

    def _cdf(self) -> bool:
        return str(self.options.get("readChangeFeed", "false")).lower() == "true"

    def schema(self):
        table = _resolve_table(self._path(), self.options)
        schema = T.StructType.fromJson(
            table._state(_resolve_version(table, self.options))["schema"]
        )
        if self._cdf():
            for f in _CDF_FIELDS:
                schema = schema.add(f)
        return schema

    def reader(self, schema):
        if self._cdf():
            return _SnapshotCdfBatchReader(self._path(), self.options)
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return _SnapshotBatchReaderPushdown(self._path(), self.options)
        return _SnapshotBatchReader(self._path(), self.options)

    def streamReader(self, schema):
        if not self._cdf():
            raise ValueError(
                "streaming reads serve the change feed; pass "
                ".option('readChangeFeed', 'true') (snapshot reads are batch)"
            )
        return _SnapshotCdfStreamReader(self._path(), self.options)

    def writer(self, schema, overwrite: bool):
        return _SnapshotWriter(self._path(), schema, overwrite, self.options)

    def streamWriter(self, schema, overwrite: bool):
        return _SnapshotStreamWriter(self._path(), schema, self.options)


def register_snapshot_datasource(spark) -> None:
    """Idempotent per-session registration of ``wopen_snapshot``."""
    spark.dataSource.register(SnapshotTableDataSource)
