"""Offset-tracked topic source — the Kafka-shaped half of exactly-once.

The reference's production cadence is a daily cron that consults a
partition ledger before loading (``/root/reference/get_similarity.py:
89-103``, README.md:21-25). The thing that generalizes to in production
is OFFSET-TRACKED topic consumption: a consumer group's committed offset
per partition is the ledger, and pairing it with a transactional sink
turns at-least-once delivery into exactly-once.

Two pieces:

- :class:`FileTopic` — a partitioned, offset-addressed, append-only
  record log on the filesystem, shaped like a Kafka topic: records live
  in immutable SEGMENT files named by their offset range
  (``p0/000000000000-000500.jsonl`` = offsets [0, 500) of partition 0),
  so a consumer selects segments by NAME — no data is read for skipped
  ranges, the same trick Kafka plays with segment files and sparse
  offset indexes. Reads are Spark-distributed (one json scan over just
  the overlapping segments).
- :class:`TopicLoader` — a micro-batch consumer with exactly-once
  semantics: per partition it reads ``(committed, head)`` and appends to
  a :class:`~wopen_spark.snapshot_table.SnapshotTable` with
  ``txn_app = "<group>/p<P>"`` and ``txn_version = end_offset``. The
  table's transactional high-water mark IS the committed offset — there
  is no second ledger to keep in sync, so the classic failure (offsets
  committed but data lost, or data written twice after a crash between
  the two commits) cannot happen: offset commit and data commit are the
  same atomic log record. A replayed or crashed-and-rerun batch is a
  no-op.

At cluster scale the identical loader logic points at Kafka itself
(``spark.read.format("kafka")`` with explicit startingOffsets /
endingOffsets per partition); FileTopic is the zero-dependency stand-in
with the same offset algebra.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wopen_spark.localframe import local_df
from wopen_spark.snapshot_table import SnapshotTable

# every record carries its position, like a Kafka ConsumerRecord
_META_FIELDS = [
    T.StructField("_partition", T.IntegerType()),
    T.StructField("_offset", T.LongType()),
]


class FileTopic:
    """A partitioned append-only record log addressed by offsets.

    Layout: ``{path}/p{P}/{start:012d}-{count:06d}.jsonl`` — one
    immutable segment per produce() call, named by the offset range it
    covers. Publication is atomic (tmp + rename within one directory);
    the single-writer-per-partition assumption mirrors Kafka's one
    leader per partition.
    """

    def __init__(self, path: str, partitions: int = 1):
        if partitions < 1:
            raise ValueError("need at least one partition")
        self.path = path
        self.partitions = partitions
        for p in range(partitions):
            os.makedirs(self._pdir(p), exist_ok=True)

    def _pdir(self, partition: int) -> str:
        return os.path.join(self.path, f"p{partition}")

    def _segments(self, partition: int) -> list[tuple[int, int, str]]:
        """[(start, end, path)] for every published segment, sorted."""
        out = []
        for name in os.listdir(self._pdir(partition)):
            if not name.endswith(".jsonl") or name.startswith("."):
                continue
            start_s, count_s = name[: -len(".jsonl")].split("-")
            start, count = int(start_s), int(count_s)
            out.append((start, start + count, os.path.join(self._pdir(partition), name)))
        return sorted(out)

    def head(self, partition: int) -> int:
        """The next offset this partition would assign (= log end)."""
        segs = self._segments(partition)
        return segs[-1][1] if segs else 0

    def produce(self, partition: int, records: list[dict]) -> tuple[int, int]:
        """Append ``records`` as one immutable segment; returns the
        assigned offset range [start, end). Offsets are stamped into the
        records, so a reader never infers position from line numbers."""
        if not 0 <= partition < self.partitions:
            raise ValueError(f"partition {partition} out of range")
        if not records:
            start = self.head(partition)
            return start, start
        start = self.head(partition)
        name = f"{start:012d}-{len(records):06d}.jsonl"
        tmp = os.path.join(self._pdir(partition), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            for i, rec in enumerate(records):
                f.write(
                    json.dumps(
                        {**rec, "_partition": partition, "_offset": start + i}
                    )
                )
                f.write("\n")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self._pdir(partition), name))
        return start, start + len(records)

    def produce_df(self, df: DataFrame, partition_col: str) -> None:
        """Executor-side produce — the external-producer stand-in without
        a driver collect: rows are routed to their topic partition by
        ``partition_col`` (values in [0, partitions)), a repartition on
        that column keeps each partition's rows in ONE task (Kafka's
        one-leader-per-partition), and each task writes its partitions'
        single jsonl segment with offsets stamped from the current head.
        Rows cross into Python as ARROW batches (mapInPandas) and the
        segment bytes come out of pandas' C json writer — never a
        per-row Python loop. Driver work is O(partitions) head probes;
        record bytes never visit the driver. One call = at most one
        segment per partition, like one :meth:`produce` call per
        partition.

        Requires the topic root to be reachable from executors (local
        mode / shared filesystem — exactly the fixture scope this
        stand-in exists for). A task buffers its partitions' sample in
        one pandas frame — fixture-sized by construction."""
        heads = {p: self.head(p) for p in range(self.partitions)}
        path, nparts = self.path, self.partitions

        def _write(batches):
            import os as _os
            import uuid as _uuid

            import pandas as pd

            bufs: dict[int, list] = {}
            for pdf in batches:
                if pdf.empty:
                    continue
                for p, g in pdf.groupby(partition_col, sort=False):
                    bufs.setdefault(int(p), []).append(
                        g.drop(columns=[partition_col])
                    )
            out_p, out_n = [], []
            for p, frames in bufs.items():
                if not 0 <= p < nparts:
                    raise ValueError(f"partition {p} out of range")
                cat = pd.concat(frames, ignore_index=True)
                start = heads[p]
                cat["_partition"] = p
                cat["_offset"] = range(start, start + len(cat))
                pdir = _os.path.join(path, f"p{p}")
                tmp = _os.path.join(pdir, f".tmp-{_uuid.uuid4().hex}")
                # double_precision=15: pandas' max — doubles round-trip
                # to within 1 ulp, and the jsonl stand-in carries
                # fixture values, not ledger-grade decimals
                cat.to_json(
                    tmp, orient="records", lines=True, double_precision=15
                )
                with open(tmp, "rb+") as f:
                    _os.fsync(f.fileno())
                _os.rename(
                    tmp,
                    _os.path.join(pdir, f"{start:012d}-{len(cat):06d}.jsonl"),
                )
                out_p.append(p)
                out_n.append(len(cat))
            yield pd.DataFrame({"p": out_p, "n": out_n})

        (
            df.repartition(self.partitions, F.col(partition_col))
            .mapInPandas(_write, "p int, n long")
            .collect()  # O(partitions) rows — the job trigger, not data
        )

    def read(
        self,
        spark: SparkSession,
        partition: int,
        start: int,
        end: int,
        schema: T.StructType,
    ) -> DataFrame:
        """Records with ``start <= _offset < end`` as a DataFrame.

        Segment selection happens by FILE NAME (offset ranges are in the
        names), so segments wholly outside the range are never opened —
        O(overlapping segments), not O(log). The residual offset filter
        trims the boundary segments exactly."""
        full = T.StructType(list(schema.fields) + _META_FIELDS)
        paths = [
            p for s, e, p in self._segments(partition) if s < end and e > start
        ]
        if not paths:
            return self.spark_empty(spark, full)
        return (
            spark.read.schema(full)
            .json(paths)
            .filter((F.col("_offset") >= start) & (F.col("_offset") < end))
        )

    @staticmethod
    def spark_empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
        return local_df(spark, [], schema)

    def stream(self, spark: SparkSession, schema: T.StructType) -> DataFrame:
        """The topic as a CONTINUOUS Structured Streaming source: segments
        are immutable and append-only, exactly what Spark's file stream
        source tracks exactly-once in its checkpoint. Every record still
        carries ``_partition``/``_offset``, so downstream state keyed on
        them is replay-stable. Micro-batch pull (TopicLoader) and
        continuous push (this) consume the SAME log — the Kafka duality.

        Pair with ``SnapshotTable.streaming_sink`` for exactly-once
        landing with processing-time triggers::

            q = (topic.stream(spark, schema).writeStream
                   .foreachBatch(table.streaming_sink("job"))
                   .option("checkpointLocation", ...).start())
        """
        full = T.StructType(list(schema.fields) + _META_FIELDS)
        return (
            spark.readStream.schema(full)
            .option("pathGlobFilter", "*.jsonl")
            .option("maxFilesPerTrigger", "8")
            .json(os.path.join(self.path, "p*"))
        )


class TopicLoader:
    """Exactly-once micro-batch consumption from a FileTopic into a
    SnapshotTable. The committed offset per partition is the table's own
    transactional high-water mark for app ``"<group>/p<P>"`` — a single
    atomic record per batch carries BOTH the data files and the offset,
    the property the reference approximated with its per-date BigQuery
    partition ledger (get_similarity.py:89-103)."""

    def __init__(
        self,
        topic: FileTopic,
        table: SnapshotTable,
        group: str,
        schema: T.StructType,
    ):
        self.topic = topic
        self.table = table
        self.group = group
        self.schema = schema

    def _app(self, partition: int) -> str:
        return f"{self.group}/p{partition}"

    def committed(self, partition: int) -> int:
        """End offset (exclusive) of the last committed batch; 0 before
        any commit. Read from the table's txn ledger — no side files."""
        try:
            state = self.table._state()
        except FileNotFoundError:
            return 0
        return max(0, state["txns"].get(self._app(partition), 0))

    def run_once(self, spark: SparkSession) -> dict[int, tuple[int, int]]:
        """One micro-batch per partition: load ``(committed, head)`` and
        commit with txn_version = end offset. Rerunning without new data
        is a no-op; a crash-and-rerun after a partial run re-delivers
        only the partitions whose commit didn't land — and a replayed
        commit is rejected by the high-water mark, so rows land exactly
        once. Returns {partition: (start, end)} of what was committed."""
        out: dict[int, tuple[int, int]] = {}
        for p in range(self.topic.partitions):
            start = self.committed(p)
            end = self.topic.head(p)
            if end <= start:
                continue  # caught up
            batch = self.topic.read(spark, p, start, end, self.schema)
            self.table.append(
                batch, txn_app=self._app(p), txn_version=end
            )
            out[p] = (start, end)
        return out


class UpsertTopicLoader:
    """Exactly-once CDC UPSERT from a FileTopic into a SnapshotTable —
    TopicLoader's sibling for keyed streams where the table holds the
    LATEST state per key, not the event history (a Kafka compacted-topic
    materialization).

    Per micro-batch and partition: the batch is first reduced to its
    newest record per key (ordering column, then ``_offset`` as the
    tiebreak — intra-batch dedup), then applied with one multi-clause
    ``merge_into``: matched rows update ONLY when the incoming record is
    at least as new (``s.order >= t.order`` — an out-of-order replay can
    never regress committed state), unmatched rows insert. The batch's
    end offset rides the same merge commit as ``txn_version``, so a
    crash-and-rerun re-delivers the batch and the table's high-water
    mark rejects it — rows land exactly once with no side files.

    Keys must be partition-sticky (the Kafka key-hash contract): two
    partitions carrying the same key would race their merges — each
    commit is still atomic and the ordering guard keeps the newest
    record, but per-key ordering across partitions is the producer's
    responsibility, exactly as in Kafka. ``mode="dv"`` (default) makes
    each batch cost O(changed rows) with zero file rewrites — the shape
    that holds at 100 TB; compaction later folds the masks. A batch
    within the engine's driver row budget (``DRIVER_MAX_ROWS``) takes
    merge_into's bounded dv path: one source fetch, one classification
    fetch, and a commit of at most one data file and one mask file; larger
    batches, and tables that need the distributed path (constraints,
    generated or identity columns, column mapping, types without an
    exact Arrow round trip), run it unchanged."""

    def __init__(
        self,
        topic: FileTopic,
        table: SnapshotTable,
        group: str,
        schema: T.StructType,
        key: str,
        order_col: str,
        mode: str = "dv",
    ):
        if key == order_col:
            raise ValueError("key and order_col must differ")
        names = [f.name for f in schema.fields]
        missing = [c for c in (key, order_col) if c not in names]
        if missing:
            raise ValueError(f"schema lacks column(s): {missing}")
        self.topic = topic
        self.table = table
        self.group = group
        self.schema = schema
        self.key = key
        self.order_col = order_col
        self.mode = mode

    def _app(self, partition: int) -> str:
        return f"{self.group}/p{partition}"

    def committed(self, partition: int) -> int:
        try:
            state = self.table._state()
        except FileNotFoundError:
            return 0
        return max(0, state["txns"].get(self._app(partition), 0))

    def run_once(self, spark: SparkSession) -> dict[int, tuple[int, int]]:
        """One upsert micro-batch per partition; returns what committed,
        ``{}`` when fully caught up (rerunning is always safe)."""
        from pyspark.sql.window import Window

        out: dict[int, tuple[int, int]] = {}
        payload = [
            f.name for f in self.schema.fields if f.name != self.key
        ]
        for p in range(self.topic.partitions):
            start = self.committed(p)
            end = self.topic.head(p)
            if end <= start:
                continue
            batch = self.topic.read(spark, p, start, end, self.schema)
            w = Window.partitionBy(self.key).orderBy(
                F.desc(self.order_col), F.desc("_offset")
            )
            latest = (
                batch.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") == 1)
                .select(*[f.name for f in self.schema.fields])
            )
            self.table.merge_into(
                latest,
                self.key,
                matched=[
                    {
                        "action": "update",
                        "cond": f"s.{self.order_col} >= t.{self.order_col}",
                        "set": {c: f"s.{c}" for c in payload},
                    }
                ],
                not_matched=[{"action": "insert", "cond": None}],
                mode=self.mode,
                txn_app=self._app(p),
                txn_version=end,
            )
            out[p] = (start, end)
        return out
