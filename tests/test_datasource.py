"""wopen_snapshot Python data source: SnapshotTable behind Spark's
standard reader surfaces. Batch reads must equal SnapshotTable.read()
(deletion vectors, column mapping, widening, time travel all applied);
pushdown must prune files without changing answers; the streaming source
must emit exactly the change feed and resume from its checkpoint.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, LessThanOrEqual

from wopen_spark.datasource import (
    _SnapshotBatchReader,
    _SnapshotBatchReaderPushdown,
    register_snapshot_datasource,
)
from wopen_spark.snapshot_table import SnapshotTable


@pytest.fixture(scope="module")
def ds_spark(spark):
    register_snapshot_datasource(spark)
    return spark


def _mutated_table(spark, root) -> SnapshotTable:
    """A table that has seen every read-affecting mutation: clustered
    multi-file create, dv delete, rename (column mapping), widening
    append, cow update."""
    t = SnapshotTable(spark, root)
    df = spark.range(0, 300).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 7).cast("int").alias("x"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    t.create(df.repartition(3), cluster_by=["id"])
    t.delete_where("id % 10 = 3", mode="dv")
    t.rename_column("name", "label")
    t.append(
        spark.createDataFrame(
            [(1000, 2**40, "wide")], "id long, x long, label string"
        )
    )
    t.update_where("id = 7", {"label": "'seven'"})
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_read_equals_table_read(ds_spark, tmp_path):
    t = _mutated_table(ds_spark, str(tmp_path / "t"))
    got = ds_spark.read.format("wopen_snapshot").load(t.path)
    assert got.schema.simpleString() == t.read().schema.simpleString()
    assert _rows(got) == _rows(t.read())


def test_version_time_travel(ds_spark, tmp_path):
    t = _mutated_table(ds_spark, str(tmp_path / "t"))
    for v in (1, 2, 3):
        got = ds_spark.read.format("wopen_snapshot").option("version", v).load(t.path)
        assert _rows(got) == _rows(t.read(version=v)), f"version {v}"


def test_pushdown_prunes_files_and_stays_exact(ds_spark, tmp_path):
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    df = ds_spark.range(0, 400).select(
        F.col("id").cast("long").alias("id"), (F.col("id") * 2).alias("v")
    )
    t.create(df.repartition(4), cluster_by=["id"])

    r = _SnapshotBatchReaderPushdown(t.path, {})
    assert r.pushFilters([EqualTo(("id",), 7)]) == [EqualTo(("id",), 7)]
    n_all = len(_SnapshotBatchReader(t.path, {}).partitions())
    assert len(r.partitions()) < n_all
    # range bounds prune too
    r2 = _SnapshotBatchReaderPushdown(t.path, {})
    r2.pushFilters([GreaterThan(("id",), 380), LessThanOrEqual(("id",), 399)])
    assert len(r2.partitions()) < n_all

    ds_spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            ds_spark.read.format("wopen_snapshot")
            .option("pushdown", "true")
            .load(t.path)
            .filter("id = 7")
        )
        assert _rows(got) == [(7, 14)]
    finally:
        ds_spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_pushdown_never_skips_on_type_mismatch(ds_spark, tmp_path):
    """A bound whose type family differs from the stats must not prune —
    a cross-type comparison would be a silent wrong skip."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(
        ds_spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").coalesce(1),
        cluster_by=["id"],
    )
    r = _SnapshotBatchReaderPushdown(t.path, {})
    r.pushFilters([EqualTo(("id",), "not-an-int")])
    assert len(r.partitions()) == 1  # kept: probe type is str, stats are int


def test_pushdown_reads_each_bloom_sidecar_once(ds_spark, tmp_path, monkeypatch):
    """Bloom sidecars are immutable, so the pushdown reader serves them
    from the table handle's cache: a second plan of the same point probe
    opens no sidecar and plans the same files."""
    from wopen_spark.snapshot_table import LocalDataStore

    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    df = ds_spark.range(0, 400).select(
        F.col("id").cast("long").alias("id"), (F.col("id") * 2).alias("v")
    )
    t.create(df.repartition(4), cluster_by=["id"])
    opened = []
    open_input = LocalDataStore.open_input

    def counting_open(self, rel):
        opened.append(rel)
        return open_input(self, rel)

    monkeypatch.setattr(LocalDataStore, "open_input", counting_open)

    def plan():
        r = _SnapshotBatchReaderPushdown(t.path, {})
        r.pushFilters([EqualTo(("id",), 7)])
        return len(r.partitions())

    n_first = plan()
    assert any(rel.endswith(".bloom") for rel in opened), opened
    opened.clear()
    assert plan() == n_first
    assert [rel for rel in opened if rel.endswith(".bloom")] == []


def test_file_grouping_packs_by_spark_split_formula():
    """Partition planning groups files like Spark's scan split-packing:
    many tiny files amortize into multi-file tasks (never one task per
    file at scale), small tables keep one file per task (full
    parallelism + stable pruning counts), oversized files stand alone."""
    from wopen_spark.datasource import _group_file_entries

    def entries(sizes):
        return [(f"data/f{i}.parquet", (), (), "", 0) for i in range(len(sizes))]

    mb = 1024 * 1024
    # 100 tiny files, floor of 8 tasks: open cost dominates -> ~9 groups
    sizes = [1024] * 100
    groups = _group_file_entries(
        entries(sizes), sizes, "{}", "{}", "{}", {"mintasks": "8"}
    )
    assert 8 <= len(groups) < 100
    assert sum(len(g.files) for g in groups) == 100
    assert all(len(g.files) > 1 for g in groups)
    # 4 small files at high parallelism: one file per task (no grouping)
    sizes = [1 * mb] * 4
    groups = _group_file_entries(
        entries(sizes), sizes, "{}", "{}", "{}", {"mintasks": "32"}
    )
    assert [len(g.files) for g in groups] == [1, 1, 1, 1]
    # files past maxPartitionBytes each get their own task
    sizes = [256 * mb] * 6
    groups = _group_file_entries(
        entries(sizes), sizes, "{}", "{}", "{}", {"mintasks": "4"}
    )
    assert [len(g.files) for g in groups] == [1] * 6


def test_grouped_read_equals_table_read(ds_spark, tmp_path):
    """Forcing grouping (minTasks=1) must not change results — the
    grouped task reads every file of its group through the same dv-aware
    path."""
    t = _mutated_table(ds_spark, str(tmp_path / "t"))
    got = (
        ds_spark.read.format("wopen_snapshot")
        .option("minTasks", 1)
        .load(t.path)
    )
    assert _rows(got) == _rows(t.read())
    from wopen_spark.datasource import _SnapshotBatchReader

    parts = _SnapshotBatchReader(t.path, {"mintasks": "1"}).partitions()
    assert len(parts) == 1  # everything packed into one multi-file task
    assert sum(len(p.files) for p in parts) == len(t._state()["files"])


def test_cdf_stream_matches_batch_changes_and_resumes(ds_spark, tmp_path):
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    base = ds_spark.range(0, 100).select(
        F.col("id").cast("long").alias("id"), (F.col("id") % 5).alias("g")
    )
    t.create(base.repartition(2), cluster_by=["id"])
    t.delete_where("id % 9 = 4", mode="dv")
    t.update_where("id = 11", {"g": "99"}, mode="dv")
    t.compact(target_files=1)  # dataChange=false: must emit NOTHING

    def drain():
        sink = []
        q = (
            ds_spark.readStream.format("wopen_snapshot")
            .option("readChangeFeed", "true")
            .option("startingVersion", 0)
            .load(t.path)
            .writeStream.foreachBatch(lambda b, e: sink.append(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for batch in sink for r in batch)

    first = drain()
    assert first == _rows(t.read_changes(0))
    assert all(r[-2] in ("insert", "delete") for r in first)

    # new commits land after the checkpoint: the resumed stream reads
    # exactly the delta
    t.delete_where("g = 3")
    second = drain()
    assert second == _rows(t.read_changes(4))
    assert second, "expected incremental changes"


def test_option_validation(ds_spark, tmp_path):
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(1,)], "id long").coalesce(1))
    # version and timestampAsOf are mutually exclusive
    with pytest.raises(Exception, match="not both"):
        (
            ds_spark.read.format("wopen_snapshot")
            .option("version", 1)
            .option("timestampAsOf", "2030-01-01")
            .load(t.path)
            .collect()
        )
    # a snapshot readStream (no readChangeFeed) errors when the query
    # actually plans the stream reader — start() itself is lazy
    q = (
        ds_spark.readStream.format("wopen_snapshot")
        .load(t.path)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    # the guard message must NOT match the raises pattern, or a
    # regression that lets the stream succeed would still pass
    with pytest.raises(Exception, match="[Ss]treaming|readChangeFeed"):
        q.awaitTermination(60)
        raise AssertionError("snapshot stream was planned without CDF opt-in")
    # s3:// is supported now; schemes with no Python-native client on
    # executors still refuse loudly at plan time
    with pytest.raises(Exception, match="Python-native client"):
        ds_spark.read.format("wopen_snapshot").load("hdfs://nn/t").collect()


def test_writer_create_append_overwrite(ds_spark, tmp_path):
    """df.write.format("wopen_snapshot"): create-on-first-write, racing
    append commits, schema-preserving overwrite, physical-name mapping,
    and the honest refusals (schema drift, constraint/generated tables)."""
    p = str(tmp_path / "t")
    df = ds_spark.range(0, 100).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 5).cast("int").alias("g"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    df.write.format("wopen_snapshot").mode("append").save(p)
    t = SnapshotTable(ds_spark, p)
    assert t.latest_version() == 1
    assert _rows(t.read()) == _rows(df)

    df.withColumn("id", F.col("id") + 1000).write.format(
        "wopen_snapshot"
    ).mode("append").save(p)
    assert t.read().count() == 200

    # a rename re-points physicals: the writer must land the new column
    # under the OLD physical name so historical files stay coherent
    t.rename_column("s", "label")
    df2 = ds_spark.range(0, 5).select(
        F.col("id").cast("long").alias("id"),
        F.lit(1).cast("int").alias("g"),
        F.lit("x").alias("label"),
    )
    df2.write.format("wopen_snapshot").mode("append").save(p)
    assert t.read().filter("label = 'x'").count() == 5

    v_pre = t.latest_version()
    df2.write.format("wopen_snapshot").mode("overwrite").save(p)
    assert t.read().count() == 5
    assert t.read(version=v_pre).count() == 205  # history intact

    # written shards carry footer stats (file skipping keeps working)
    assert all(m.get("stats") for m in t._state()["files"].values())

    with pytest.raises(Exception, match="exactly"):
        ds_spark.range(3).write.format("wopen_snapshot").mode("append").save(p)

    t.add_constraint("gpos", "g >= 0")
    with pytest.raises(Exception, match="constraint"):
        df2.write.format("wopen_snapshot").mode("append").save(p)


def test_writer_roundtrip_through_reader_and_engine(ds_spark, tmp_path):
    """Writer shards read back identically through BOTH surfaces, and
    engine mutations (dv delete) compose on top of writer-created
    tables."""
    p = str(tmp_path / "t")
    df = ds_spark.range(0, 50).select(
        F.col("id").cast("long").alias("id"), (F.col("id") * 2.0).alias("v")
    )
    df.repartition(3).write.format("wopen_snapshot").mode("append").save(p)
    t = SnapshotTable(ds_spark, p)
    t.delete_where("id % 7 = 1", mode="dv")
    via_ds = ds_spark.read.format("wopen_snapshot").load(p)
    assert _rows(via_ds) == _rows(t.read())
    assert via_ds.count() == 50 - len([i for i in range(50) if i % 7 == 1])


def test_stream_sink_exactly_once(ds_spark, tmp_path):
    """writeStream.format('wopen_snapshot'): each epoch is one atomic
    commit keyed (txnApp, batchId); same-checkpoint reruns and
    fresh-checkpoint replays (batch ids restart at 0) both land zero
    duplicate rows; new data flows through as new epochs."""
    from pyspark.sql import types as T

    from wopen_spark.streaming.topic import FileTopic

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    topic = FileTopic(str(tmp_path / "topic"), partitions=2)
    topic.produce(0, [{"k": i, "v": f"a{i}"} for i in range(40)])
    topic.produce(1, [{"k": 100 + i, "v": f"b{i}"} for i in range(40)])
    sink_path = str(tmp_path / "sunk")

    def run(ckpt):
        q = (
            topic.stream(ds_spark, schema)
            .select("k", "v")
            .writeStream.format("wopen_snapshot")
            .option("txnApp", "sink-test")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("path", sink_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()

    run("ck1")
    t = SnapshotTable(ds_spark, sink_path)
    assert t.read().count() == 80
    run("ck1")  # no new input: no-op
    assert t.read().count() == 80
    run("ck2")  # fresh checkpoint: replayed epochs rejected by the HWM
    assert t.read().count() == 80
    topic.produce(0, [{"k": 1000, "v": "late"}])
    run("ck1")
    assert t.read().count() == 81
    # missing txnApp refuses at plan time
    q2 = (
        topic.stream(ds_spark, schema)
        .select("k", "v")
        .writeStream.format("wopen_snapshot")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .option("path", str(tmp_path / "other"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="txnApp"):
        q2.awaitTermination(120)
        raise RuntimeError("sink without a writer identity must fail")


def _bloom_audit(root):
    """(orphan sidecars, referenced-but-missing sidecars) under root."""
    import os

    on_disk = set()
    for dirpath, _, names in os.walk(os.path.join(root, "data")):
        for n in names:
            if n.endswith(".bloom"):
                rel = os.path.relpath(os.path.join(dirpath, n), root)
                on_disk.add(rel.replace(os.sep, "/"))
    return on_disk


def test_stream_sink_replay_leaves_no_orphan_sidecars(ds_spark, tmp_path):
    """Clustered sink: add-action derivation writes .bloom sidecars, so a
    replayed epoch (fresh checkpoint -> batch ids restart) must clean up
    sidecars along with the shards. An orphaned sidecar is unreclaimable
    (vacuum deletes a bloom only with its data file) and pins its commit
    dir forever."""
    from pyspark.sql import types as T

    from wopen_spark.streaming.topic import FileTopic

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    sink_path = str(tmp_path / "sunk")
    # pre-create CLUSTERED so every committed shard carries a bloom
    t = SnapshotTable(ds_spark, sink_path)
    t.create(
        ds_spark.createDataFrame([], "k long, v string"), cluster_by=["k"]
    )
    topic = FileTopic(str(tmp_path / "topic"), partitions=1)
    topic.produce(0, [{"k": i, "v": f"a{i}"} for i in range(30)])

    def run(ckpt):
        q = (
            topic.stream(ds_spark, schema)
            .select("k", "v")
            .writeStream.format("wopen_snapshot")
            .option("txnApp", "sidecar-test")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("path", sink_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()

    run("ck1")
    assert t.read().count() == 30
    run("ck2")  # fresh checkpoint: epoch 0 replays, HWM rejects it
    assert t.read().count() == 30
    referenced = {
        m["bloom"]["path"]
        for m in t._state()["files"].values()
        if m.get("bloom")
    }
    assert referenced, "clustered shards should carry blooms"
    on_disk = _bloom_audit(sink_path)
    assert on_disk == referenced, (
        f"orphan sidecars: {sorted(on_disk - referenced)}"
    )


def test_vacuum_sweeps_orphaned_sidecar(ds_spark, tmp_path):
    """Defense in depth: a .bloom whose data file is gone (legacy leak,
    crashed writer) is garbage vacuum must reclaim once past the grace
    window."""
    import os

    p = str(tmp_path / "t")
    t = SnapshotTable(ds_spark, p)
    t.create(ds_spark.range(0, 10).selectExpr("id as k"), cluster_by=["k"])
    orphan = os.path.join(p, "data", "deadbeef", "gone.parquet.bloom")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"\x00" * 16)
    old = os.path.getmtime(orphan) - 7200
    os.utime(orphan, (old, old))
    removed = t.vacuum(retain_last=1, orphan_grace_s=3600)
    assert not os.path.exists(orphan)
    # r9 ADVICE: the swept sidecar must count in the removed total
    assert removed >= 1
    assert t.read().count() == 10


def test_batch_cdf_read_matches_read_changes(ds_spark, tmp_path):
    """Batch readChangeFeed (r9): the standard reader serves the same
    change rows as SnapshotTable.read_changes over any (after, ending]
    window — inserts, cow deletes, dv deletes, with maintenance commits
    silent — via the same task builder the streaming source uses."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                                      "id long, v string").repartition(2))
    t.append(ds_spark.createDataFrame([(100, "new")], "id long, v string"))
    t.delete_where("id = 3", mode="dv")
    t.compact()  # maintenance: must emit nothing
    t.delete_where("id = 100")  # cow

    def via_ds(**opts):
        r = ds_spark.read.format("wopen_snapshot").option(
            "readChangeFeed", "true"
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return sorted(
            (x.id, x.v, x["_change_type"], x["_commit_version"])
            for x in r.load(t.path).collect()
        )

    def via_class(lo, hi=None):
        return sorted(
            (x.id, x.v, x["_change_type"], x["_commit_version"])
            for x in t.read_changes(lo, hi).collect()
        )

    assert via_ds(afterVersion=0) == via_class(0)
    assert via_ds(afterVersion=2) == via_class(2)
    assert via_ds(afterVersion=1, endingVersion=3) == via_class(1, 3)
    # exclusive-bound alias agrees
    assert via_ds(startingVersion=2) == via_ds(afterVersion=2)
    # empty window
    head = t.latest_version()
    assert via_ds(afterVersion=head) == []
    # grouping forced (minTasks=1): insert/cow-delete/dv-delete entries
    # of several commits share ONE multi-file task yet keep their
    # per-file change tagging and dv semantics
    assert via_ds(afterVersion=0, minTasks=1) == via_class(0)
    from wopen_spark.datasource import _SnapshotCdfBatchReader

    parts = _SnapshotCdfBatchReader(t.path, {"mintasks": "1"}).partitions()
    assert len(parts) == 1 and len(parts[0].files) > 1


def test_timestamp_as_of_reads_historical_version(ds_spark, tmp_path):
    """timestampAsOf resolves to the newest commit at-or-before the
    timestamp (unix float or ISO string), mirroring
    SnapshotTable.read(asof_ts)."""
    import time as _time

    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(1,)], "id long").coalesce(1))
    _time.sleep(1.1)
    cut = _time.time()
    _time.sleep(1.1)
    t.append(ds_spark.createDataFrame([(2,)], "id long").coalesce(1))

    got = (
        ds_spark.read.format("wopen_snapshot")
        .option("timestampAsOf", str(cut))
        .load(t.path)
    )
    assert [r.id for r in got.collect()] == [1]
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(cut, tz=timezone.utc).isoformat()
    got2 = (
        ds_spark.read.format("wopen_snapshot")
        .option("timestampAsOf", iso)
        .load(t.path)
    )
    assert [r.id for r in got2.collect()] == [1]


def test_cdf_stream_vacuum_recovery_snapshot(ds_spark, tmp_path):
    """A checkpointed CDF stream stranded behind a vacuum: the default
    surfaces the typed error through the restarted query; with
    ``onVacuumedStart=snapshot`` the restart emits the FULL head
    snapshot as one batch tagged ``_change_type='snapshot'`` (the
    ChangeFeedLoader.resync contract through readStream, with the
    Debezium-style distinct tag so a consumer KNOWS to replace its
    state), the offset jumps the gap, and the next restart is
    incremental again."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(
        ds_spark.range(0, 60)
        .select(F.col("id").cast("long").alias("id"), (F.col("id") % 5).alias("g"))
        .repartition(2),
        cluster_by=["id"],
    )
    t.append(
        ds_spark.createDataFrame([(100, 9), (101, 9)], "id long, g long")
    )

    def drain(extra=()):
        sink = []
        reader = (
            ds_spark.readStream.format("wopen_snapshot")
            .option("readChangeFeed", "true")
            .option("afterVersion", 0)
        )
        for k, v in extra:
            reader = reader.option(k, v)
        q = (
            reader.load(t.path)
            .writeStream.foreachBatch(lambda b, e: sink.append(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for batch in sink for r in batch)

    assert len(drain()) == 62  # caught up through v2

    # fall behind retention: cow deletes rewrite files, vacuum reclaims
    t.delete_where("id % 3 = 0")          # v3: cow, removes old files
    t.delete_where("g = 4")               # v4: cow again
    t.vacuum(retain_last=1, orphan_grace_s=0.0)
    with pytest.raises(Exception, match="[Vv]acuumed"):
        t.read_changes(2)

    # default: the restarted stream surfaces the typed failure
    with pytest.raises(Exception, match="[Vv]acuumed"):
        drain()

    # snapshot recovery: one all-inserts batch at the head version
    got = drain(extra=[("onVacuumedStart", "snapshot")])
    head = t.latest_version()
    live = sorted(tuple(r) + ("snapshot", head) for r in t.read().collect())
    assert got == live
    assert len(got) == t.read().count()

    # after recovery the SAME checkpoint consumes incrementally again
    t.append(ds_spark.createDataFrame([(500, 1)], "id long, g long"))
    nxt = drain(extra=[("onVacuumedStart", "snapshot")])
    assert nxt == [(500, 1, "insert", head + 1)]


def test_cdf_batch_vacuum_recovery_snapshot(ds_spark, tmp_path):
    """The batch CDF reader honors onVacuumedStart=snapshot the same
    way: a vacuumed window raises by default, serves the head snapshot
    as inserts when opted in."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(1,), (2,), (3,)], "id long").coalesce(1))
    t.delete_where("id = 2")  # cow rewrite
    t.vacuum(retain_last=1, orphan_grace_s=0.0)

    def cdf(**opts):
        r = (
            ds_spark.read.format("wopen_snapshot")
            .option("readChangeFeed", "true")
            .option("afterVersion", 0)
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(t.path)

    with pytest.raises(Exception, match="[Vv]acuumed"):
        cdf().collect()
    got = sorted(tuple(r) for r in cdf(onVacuumedStart="snapshot").collect())
    assert got == [(1, "snapshot", 2), (3, "snapshot", 2)]
    with pytest.raises(Exception, match="onVacuumedStart"):
        cdf(onVacuumedStart="bogus").collect()


def test_writer_merge_schema_add_column_and_widen(ds_spark, tmp_path):
    """.option('mergeSchema','true'): a new nullable column and a
    widened type evolve the table through df.write; both surfaces read
    the result (old rows NULL-fill, narrow files read wide)."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(
        ds_spark.createDataFrame([(1, 10), (2, 20)], "id long, x int").coalesce(1)
    )
    (
        ds_spark.createDataFrame(
            [(3, 2**40, "new")], "id long, x long, tag string"
        )
        .write.format("wopen_snapshot")
        .option("mergeSchema", "true")
        .mode("append")
        .save(t.path)
    )
    want = [(1, 10, None), (2, 20, None), (3, 2**40, "new")]
    assert _rows(t.read()) == want
    assert _rows(
        ds_spark.read.format("wopen_snapshot").load(t.path)
    ) == want
    assert dict(t.read().dtypes) == {
        "id": "bigint", "x": "bigint", "tag": "string"
    }


def test_writer_merge_schema_subset_and_narrow_input(ds_spark, tmp_path):
    """mergeSchema also admits subset schemas (absent columns read NULL)
    and narrower input types (cast up at write, table type unchanged)."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(
        ds_spark.createDataFrame(
            [(1, 2**40, "a")], "id long, x long, tag string"
        ).coalesce(1)
    )
    (
        ds_spark.createDataFrame([(2, 7)], "id long, x int")
        .write.format("wopen_snapshot")
        .option("mergeSchema", "true")
        .mode("append")
        .save(t.path)
    )
    assert _rows(t.read()) == [(1, 2**40, "a"), (2, 7, None)]
    assert dict(t.read().dtypes)["x"] == "bigint"


def test_writer_merge_schema_refusals(ds_spark, tmp_path):
    """Without the option the exact-schema contract still holds; with it
    a genuinely incompatible change still refuses at plan time."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1))
    extra = ds_spark.createDataFrame([(2, "b", 1.0)], "id long, s string, v double")
    with pytest.raises(Exception, match="mergeSchema"):
        extra.write.format("wopen_snapshot").mode("append").save(t.path)
    bad = ds_spark.createDataFrame([(3, 5)], "id long, s int")
    with pytest.raises(Exception, match="incompatible type"):
        (
            bad.write.format("wopen_snapshot")
            .option("mergeSchema", "true")
            .mode("append")
            .save(t.path)
        )


def test_writer_merge_schema_remints_retired_physical(ds_spark, tmp_path):
    """Evolving in a column whose name was retired by a rename must mint
    a fresh physical name — old files' bytes for the retired name must
    NOT resurrect into the new column."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(
        ds_spark.createDataFrame([(1, "old")], "id long, name string").coalesce(1)
    )
    t.rename_column("name", "label")  # physical 'name' retired, lives in v1 file
    (
        ds_spark.createDataFrame(
            [(2, "l2", "fresh")], "id long, label string, name string"
        )
        .write.format("wopen_snapshot")
        .option("mergeSchema", "true")
        .mode("append")
        .save(t.path)
    )
    got = _rows(t.read())
    assert got == [(1, "old", None), (2, "l2", "fresh")]
    assert got == _rows(ds_spark.read.format("wopen_snapshot").load(t.path))


def test_writer_merge_schema_overwrite(ds_spark, tmp_path):
    """Overwrite + mergeSchema: the table schema is the UNION (absent
    old columns read NULL on the new rows), matching Delta."""
    t = SnapshotTable(ds_spark, str(tmp_path / "t"))
    t.create(ds_spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1))
    (
        ds_spark.createDataFrame([(9, 1.5)], "id long, v double")
        .write.format("wopen_snapshot")
        .option("mergeSchema", "true")
        .mode("overwrite")
        .save(t.path)
    )
    assert _rows(t.read()) == [(9, None, 1.5)]
