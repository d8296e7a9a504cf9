"""SnapshotTable — transaction-log commits, snapshot isolation, time
travel, optimistic concurrency, file-skipping copy-on-write merge,
checkpointed log replay, and vacuum.

The key scale assertions: merge rewrites ONLY files that actually
contain affected keys (others stay byte-identical), stats pruning
skips files whose key range can't overlap, and log resolution goes
through checkpoints (O(commits since checkpoint), not O(history)).
"""

from __future__ import annotations

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from wopen_spark.snapshot_table import (
    CHECKPOINT_EVERY,
    CommitConflictError,
    InMemoryLogStore,
    SnapshotTable,
    VacuumedVersionError,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(t: SnapshotTable) -> dict[str, bytes]:
    out = {}
    root = os.path.join(t.path, "data")
    for sub in os.listdir(root):
        for name in os.listdir(os.path.join(root, sub)):
            if name.endswith(".parquet"):
                with open(os.path.join(root, sub, name), "rb") as f:
                    out[f"data/{sub}/{name}"] = f.read()
    return out


@pytest.fixture(params=["local", "objectstore"])
def table(spark, tmp_path, request):
    """The whole suite runs twice: once over the default POSIX log store
    and once over InMemoryLogStore — an object-store fake with NO rename
    in its vocabulary, so any protocol code that silently depends on
    rename atomicity fails here instead of in production."""
    if request.param == "local":
        return SnapshotTable(spark, str(tmp_path / "tbl"))
    return SnapshotTable(spark, str(tmp_path / "tbl"), log_store=InMemoryLogStore())


def test_create_append_read_roundtrip(spark, table):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    assert table.create(df1) == 1
    assert table.append(spark.createDataFrame([(3, "c")], "id long, v string")) == 2
    assert _rows(table.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert [h["operation"] for h in table.history()] == ["create", "append"]


def test_time_travel_and_snapshot_isolation(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    snapshot = table.read()  # resolved at v1
    table.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    # time travel by version; the pre-overwrite snapshot is unchanged
    assert _rows(table.read(version=1)) == [(1, "a")]
    assert _rows(table.read()) == [(9, "z")]
    assert _rows(snapshot) == [(1, "a")]
    # time travel by timestamp
    ts1 = table.history()[0]["ts_unix"]
    assert _rows(table.read(asof_ts=ts1)) == [(1, "a")]


def test_merge_rewrites_only_touched_files(spark, table):
    mk = lambda lo: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, lo + 10)], "id long, v string"
    ).coalesce(1)
    table.create(mk(0))
    table.append(mk(100))
    table.append(mk(200))
    before_manifest = set(table._state()["files"])
    before_bytes = _data_files(table)
    assert len(before_manifest) == 3

    # upsert keys 100..104 — only the middle file holds them
    up = spark.createDataFrame(
        [(i, "NEW") for i in range(100, 105)], "id long, v string"
    )
    report = table.merge(up, "id")
    assert report["files_rewritten"] == 1
    # stats pruned the files whose id range can't contain 100..104
    assert report["files_skipped_by_stats"] == 2
    after_manifest = set(table._state()["files"])
    survivors = before_manifest & after_manifest
    assert len(survivors) == 2  # files 0..9 and 200..209 stay in the manifest
    after_bytes = _data_files(table)
    for p in survivors:  # and their bytes were never rewritten in place
        assert after_bytes[p] == before_bytes[p]
    got = dict((r["id"], r["v"]) for r in table.read().collect())
    assert got[100] == "NEW" and got[104] == "NEW"
    assert got[0] == "v0" and got[200] == "v200" and len(got) == 30


def test_merge_inserts_new_keys(spark, table):
    table.create(
        spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1)
    )
    table.merge(
        spark.createDataFrame([(1, "A"), (7, "g")], "id long, v string"), "id"
    )
    assert _rows(table.read()) == [(1, "A"), (7, "g")]


def test_delete_where_copy_on_write(spark, table):
    mk = lambda lo: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, lo + 5)], "id long, v string"
    ).coalesce(1)
    table.create(mk(0))
    table.append(mk(50))
    before_manifest = set(table._state()["files"])
    before_bytes = _data_files(table)
    report = table.delete_where("id >= 50 and id < 52")
    assert report["files_rewritten"] == 1
    survivors = before_manifest & set(table._state()["files"])
    assert len(survivors) == 1
    assert _data_files(table)[next(iter(survivors))] == before_bytes[next(iter(survivors))]
    assert _rows(table.read().select("id")) == [(i,) for i in [0, 1, 2, 3, 4, 52, 53, 54]]


def test_append_retries_through_commit_conflict(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    # another writer lands version 2 between our state load and commit:
    # simulate by pre-creating the commit file append will target
    table._store.put_if_absent(
        table._commit_name(2),
        json.dumps(
            {"version": 2, "ts_unix": 0.0, "operation": "append", "add": [], "remove": []}
        ).encode(),
    )
    v = table.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert v == 3  # retried against the new head instead of failing
    assert _rows(table.read().select("id")) == [(1,), (2,)]


def test_overwrite_conflict_raises(spark, table, monkeypatch):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    df = spark.createDataFrame([(2, "b")], "id long, v string")

    # a second writer lands a commit BETWEEN overwrite's state load and
    # its log create — interpose on the data-file write, which happens
    # exactly in that window
    real_write = table._write_files

    def write_and_race(df_, cluster_by, mapping=None):
        head = table.latest_version()
        table._store.put_if_absent(
            table._commit_name(head + 1),
            json.dumps(
                {"version": head + 1, "ts_unix": 0.0, "operation": "append",
                 "add": [], "remove": []}
            ).encode(),
        )
        return real_write(df_, cluster_by, mapping)

    monkeypatch.setattr(table, "_write_files", write_and_race)
    with pytest.raises(CommitConflictError):
        table.overwrite(df)
    # nothing half-committed: the table still reads as the racer left it
    assert _rows(table.read()) == [(1, "a")]


def test_checkpoint_rollup_and_replay(spark, table):
    table.create(spark.createDataFrame([(0, "x")], "id long, v string"))
    for i in range(1, CHECKPOINT_EVERY + 2):
        table.append(spark.createDataFrame([(i, "x")], "id long, v string"))
    cp = table._checkpoint_name(CHECKPOINT_EVERY)
    assert table._store.exists(cp), "checkpoint not written at the rollup interval"
    # state resolution must agree with full-log replay
    cp_files = {m["path"] for m in json.loads(table._store.read(cp))["files"]}
    assert cp_files  # non-empty manifest
    assert _rows(table.read().select("id")) == [
        (i,) for i in range(CHECKPOINT_EVERY + 2)
    ]
    # a version BEFORE the checkpoint still resolves (replay from scratch)
    assert _rows(table.read(version=2).select("id")) == [(0,), (1,)]


def test_checkpoint_put_failure_warns_and_commit_stands(
    spark, tmp_path, monkeypatch, caplog
):
    """The checkpoint is written after its commit is published, so a
    failed put is a WARNING on the package logger, not a failed commit,
    and state resolution replays the log past the missing rollup."""
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    cp = table._checkpoint_name(CHECKPOINT_EVERY)
    real_put = table._store.put

    def put(name, data):
        if name == cp:
            raise OSError("injected checkpoint put failure")
        real_put(name, data)

    monkeypatch.setattr(table._store, "put", put)
    rows = [
        spark.createDataFrame([(i, "x")], "id long, v string")
        for i in range(CHECKPOINT_EVERY + 1)
    ]
    table.create(rows[0])  # version 1
    for df in rows[1 : CHECKPOINT_EVERY - 1]:
        table.append(df)
    with caplog.at_level(logging.WARNING, logger="wopen_spark"):
        assert table.append(rows[CHECKPOINT_EVERY - 1]) == CHECKPOINT_EVERY
    assert not table._store.exists(cp)
    [rec] = [r for r in caplog.records if r.name.startswith("wopen_spark.")]
    assert rec.levelno == logging.WARNING
    assert f"checkpoint {CHECKPOINT_EVERY} of" in rec.getMessage()
    table.append(rows[CHECKPOINT_EVERY])
    for v in (CHECKPOINT_EVERY, CHECKPOINT_EVERY + 1):
        assert _rows(table.read(version=v).select("id")) == [(i,) for i in range(v)]


def test_vacuum_removes_unreferenced_files(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    table.overwrite(spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1))
    assert len(_data_files(table)) == 2  # old file retained for time travel
    removed = table.vacuum(retain_last=1)
    assert removed == 1
    assert _rows(table.read()) == [(2, "b")]  # current version intact
    with pytest.raises(VacuumedVersionError):
        table.read(version=1).collect()


def test_vacuum_and_merge_on_blob_data_store(spark, tmp_path):
    # the full data-plane surface over the object-store fake: vacuum
    # enumeration/mtime/delete and the merge probe's input_file_name ->
    # rel mapping all go through the DataStore, no POSIX assumptions
    from wopen_spark.snapshot_table import (
        BlobDataStore,
        InMemoryLogStore,
        SnapshotTable,
        VacuumedVersionError,
    )

    t = SnapshotTable(
        spark, str(tmp_path / "tbl"),
        log_store=InMemoryLogStore(),
        data_store=BlobDataStore(str(tmp_path / "scratch")),
    )
    t.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1)
    )
    rep = t.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), "id"
    )
    assert rep["files_rewritten"] == 1
    assert sorted(
        (r["id"], r["v"]) for r in t.read().collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]
    removed = t.vacuum(retain_last=1, orphan_grace_s=3600)
    assert removed == 1  # version-1 file superseded by the merge
    with pytest.raises(VacuumedVersionError):
        t.read(version=1).collect()
    assert sorted(
        (r["id"], r["v"]) for r in t.read().collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]


def test_schema_evolution_additive(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    table.append(
        spark.createDataFrame([(2, "b", 3.5)], "id long, v string, score double")
    )
    df = table.read()
    assert df.columns == ["id", "v", "score"]
    got = {r["id"]: r["score"] for r in df.collect()}
    assert got[1] is None and got[2] == 3.5
    # incompatible type change is rejected
    with pytest.raises(TypeError):
        table.append(spark.createDataFrame([("x", "y")], "id string, v string"))


def test_empty_create_reads_schema(spark, table):
    empty = spark.createDataFrame([], "id long, v string")
    table.create(empty)
    df = table.read()
    assert df.columns == ["id", "v"] and df.count() == 0


def test_cluster_by_sharpens_file_stats(spark, table):
    # clustered create: each file covers a narrow id range, so the log's
    # min/max stats are disjoint across files (the file-skipping premise)
    df = spark.createDataFrame([(i, "x") for i in range(200)], "id long, v string")
    table.create(df.repartition(4), cluster_by=["id"])
    state = table._state()
    ranges = sorted(
        (m["stats"]["id"]["min"], m["stats"]["id"]["max"])
        for m in state["files"].values()
    )
    assert len(ranges) >= 2
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, "cluster_by should produce non-overlapping id ranges"


def test_zorder_tightens_stats_on_both_columns(spark, table):
    """100x100 grid ingested row-major: natural layout is tight on y,
    full-width on x. After Z-ordering on (x, y), every file's footer
    stats must be tight on BOTH columns — the multi-key data-skipping
    property single-column clustering cannot give."""
    rows = [(i % 100, i // 100) for i in range(10_000)]
    df = spark.createDataFrame(rows, "x long, y long")
    table.create(df.repartition(8))  # unclustered: files span full x range

    report = table.optimize_zorder(["x", "y"], target_files=16, bits_per_col=4)
    assert report["files_after"] >= 8
    state = table._state()
    widths_x, widths_y = [], []
    for m in state["files"].values():
        sx, sy = m["stats"]["x"], m["stats"]["y"]
        widths_x.append(sx["max"] - sx["min"])
        widths_y.append(sy["max"] - sy["min"])
    # files are narrow on both dimensions (domain width is 99): a file
    # whose z-range crosses a top-order bit legitimately spans wide, so
    # assert the distribution, not the max
    for widths in (widths_x, widths_y):
        assert sum(widths) / len(widths) <= 55, (widths_x, widths_y)
        assert sum(1 for w in widths if w > 60) <= 2, (widths_x, widths_y)
    # and stats pruning now works on EITHER column: a narrow key range
    # on x alone (and on y alone) each skips most files
    key_x = spark.createDataFrame([(1,)], "x long")
    cand_x, skip_x = table._candidate_files(state, ["x"], key_x)
    key_y = spark.createDataFrame([(1,)], "y long")
    cand_y, skip_y = table._candidate_files(state, ["y"], key_y)
    assert len(skip_x) >= len(state["files"]) // 2
    assert len(skip_y) >= len(state["files"]) // 2
    # contents unchanged by the rewrite
    assert table.read().count() == 10_000


def test_read_where_prunes_files_and_stays_exact(spark, table):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    table.create(df.repartition(4), cluster_by=["id"])
    got, report = table.read_where({"id": (10, 19)})
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 20))
    assert report["files_skipped_by_stats"] >= 2  # narrow range, 4 ranged files
    # open-ended bound
    got2, rep2 = table.read_where({"id": (90, None)})
    assert got2.count() == 10 and rep2["files_read"] < rep2["files_total"]
    # pruning respects time travel
    table.overwrite(spark.createDataFrame([(500, "z")], "id long, v string").coalesce(1))
    got3, _ = table.read_where({"id": (10, 19)}, version=1)
    assert got3.count() == 10


def test_compact_then_time_travel(spark, table):
    for i in range(3):
        if i == 0:
            table.create(
                spark.createDataFrame([(i, "x")], "id long, v string").coalesce(1)
            )
        else:
            table.append(
                spark.createDataFrame([(i, "x")], "id long, v string").coalesce(1)
            )
    report = table.compact(target_files=1)
    assert report["files_before"] == 3 and report["files_after"] == 1
    assert _rows(table.read().select("id")) == [(0,), (1,), (2,)]
    # pre-compaction version still readable (files not vacuumed yet)
    assert _rows(table.read(version=2).select("id")) == [(0,), (1,)]


def test_versions_ignore_leaked_tmp_files(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    # a crashed writer's staging blob must not parse as a version
    table._store.put(".tmp-deadbeef.json", b"{")  # corrupt content ignored
    assert table.latest_version() == 1
    assert _rows(table.read()) == [(1, "a")]
    table.append(spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1))
    assert table.latest_version() == 2


def test_vacuum_spares_inflight_unreferenced_files(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    # simulate a concurrent writer's pre-commit output: data files on
    # disk, referenced by NO commit yet
    inflight_dir = os.path.join(table.path, "data", "inflightuuid")
    os.makedirs(inflight_dir)
    inflight = os.path.join(inflight_dir, "part-00000.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1fake")
    removed = table.vacuum(retain_last=1)
    assert removed == 0
    assert os.path.exists(inflight), "vacuum deleted an in-flight write"
    # but a crashed writer's stale leftovers (past the grace window) go
    removed = table.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert removed == 1 and not os.path.exists(inflight)


def test_timestamp_keys_never_stats_skipped(spark, table):
    """Footer timestamps are UTC-adjusted; collected bounds are session-
    local — the comparator is unreliable, so timestamp keys must never
    skip a file (a wrong skip is silent merge corruption)."""
    df = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts"
        " FROM range(20)"
    )
    table.create(df.coalesce(2))
    state = table._state()
    keys = spark.sql("SELECT timestamp'2024-01-01 00:00:05' AS ts")
    cands, skipped = table._candidate_files(state, ["ts"], keys)
    assert skipped == [] and len(cands) == len(state["files"])


def test_zorder_on_date_column(spark, table):
    df = spark.sql(
        "SELECT id, date_add(date'2024-01-01', CAST(id AS INT)) AS d FROM range(100)"
    )
    table.create(df.repartition(4))
    report = table.optimize_zorder(["d", "id"], target_files=4, bits_per_col=3)
    assert report["files_after"] >= 2
    assert table.read().count() == 100


def test_subset_schema_append_to_clustered_table(spark, table):
    table.create(
        spark.createDataFrame([(1, "a", 5)], "id long, v string, k long").coalesce(1),
        cluster_by=["k"],
    )
    # append missing the cluster column: legal, clusters on what's there
    table.append(spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1))
    got = {r["id"]: r["k"] for r in table.read().collect()}
    assert got == {1: 5, 2: None}


def test_file_meta_drops_stats_when_any_row_group_lacks_minmax(tmp_path):
    """A writer that omits min/max for SOME row groups (pyarrow does for
    oversized string values) must yield NO file-level stats for that
    column: aggregating the partial bounds would understate the file's
    true range and let _candidate_files wrongly stats-skip a file that
    does contain affected keys — silent stale rows after a merge."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wopen_spark.snapshot_table import _file_meta

    path = str(tmp_path / "partial.parquet")
    t1 = pa.table({"k": [1, 2], "s": ["aa", "bb"]})
    t2 = pa.table({"k": [3, 4], "s": ["x" * 9000, "y" * 9000]})
    w = pq.ParquetWriter(path, t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    meta = _file_meta(path, "partial.parquet", os.path.getsize(path))
    assert meta["rows"] == 4
    assert meta["stats"]["k"] == {"min": 1, "max": 4, "nulls": 0}
    # one row group with unstated real values -> no stats for the column
    assert "s" not in meta["stats"]


def test_file_meta_allnull_row_group_keeps_other_bounds(tmp_path):
    """An all-null row group has no min/max by definition; that is NOT
    the partial-stats hazard (nulls never participate in range pruning),
    so the other row groups' bounds must survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wopen_spark.snapshot_table import _file_meta

    path = str(tmp_path / "allnull.parquet")
    t1 = pa.table({"k": pa.array([5, 7], pa.int64())})
    t2 = pa.table({"k": pa.array([None, None], pa.int64())})
    w = pq.ParquetWriter(path, t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    meta = _file_meta(path, "allnull.parquet", os.path.getsize(path))
    assert meta["stats"]["k"] == {"min": 5, "max": 7, "nulls": 2}


def test_concurrent_appends_through_object_store_interface(spark, tmp_path):
    """Two writers racing real commits through the no-rename object-store
    fake: appends commute, so both must land (one wins each version, the
    loser retries against the new head) and the final table is the union
    — the end-to-end proof that the commit protocol needs only
    put-if-absent, not POSIX rename atomicity."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "tbl"), log_store=InMemoryLogStore())
    t.create(spark.createDataFrame([(0, "seed")], "id long, v string").coalesce(1))
    barrier = threading.Barrier(2)
    errors = []

    def writer(i):
        try:
            df = spark.createDataFrame([(i, f"w{i}")], "id long, v string").coalesce(1)
            barrier.wait()
            t.append(df)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.latest_version() == 3
    assert _rows(t.read().select("id")) == [(0,), (1,), (2,)]
    ops = [h["operation"] for h in t.history()]
    assert ops == ["create", "append", "append"]


def test_type_widening_append(spark, table):
    """int->long / float->double widening: a wider append evolves the
    TABLE type; old narrow files keep reading through the widened schema
    (no rewrite). A narrower append casts up at write."""
    table.create(
        spark.createDataFrame([(1, 1.5)], "id int, x float").coalesce(1)
    )
    table.append(
        spark.createDataFrame([(2**40, 2.5)], "id long, x double").coalesce(1)
    )
    df = table.read()
    assert dict(df.dtypes) == {"id": "bigint", "x": "double"}
    assert _rows(df.select("id")) == [(1,), (2**40,)]
    # narrower incoming after the widening: cast up, same table type
    table.append(spark.createDataFrame([(3, 3.5)], "id int, x float").coalesce(1))
    df = table.read()
    assert dict(df.dtypes) == {"id": "bigint", "x": "double"}
    assert df.count() == 3


def test_type_widening_rejects_lossy_changes(spark, table):
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(TypeError):
        table.append(spark.createDataFrame([(2, 5)], "id long, v int"))


def test_rename_column_metadata_only(spark, table):
    """Rename rewrites ZERO data files (physical names are fixed at
    column creation); reads map physical->logical, time travel resolves
    the old name, and a merge on the renamed key still stats-prunes."""
    mk = lambda lo: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, lo + 5)], "id long, v string"
    ).coalesce(1)
    table.create(mk(0), cluster_by=["id"])
    table.append(mk(100))
    before_bytes = _data_files(table)
    v_pre = table.latest_version()

    table.rename_column("v", "label")
    assert _data_files(table) == before_bytes  # not a byte rewritten
    df = table.read()
    assert set(df.columns) == {"id", "label"}
    assert (2, "v2") in {(r["id"], r["label"]) for r in df.collect()}
    # time travel BEFORE the rename shows the old name
    assert "v" in table.read(version=v_pre).columns

    # merge through the logical name: stats pruning keys on the PHYSICAL
    # name under the hood, so the untouched file must still be skipped
    report = table.merge(
        spark.createDataFrame([(100, "NEW")], "id long, label string"), "id"
    )
    assert report["files_skipped_by_stats"] == 1
    assert report["files_rewritten"] == 1
    got = {r["id"]: r["label"] for r in table.read().collect()}
    assert got[100] == "NEW" and got[0] == "v0"


def test_rename_then_reuse_name_as_new_column(spark, table):
    """Adding a fresh column with a RETIRED name: old data files still
    store the retired physical name, so the new logical column mints a
    distinct physical — old files must read NULL for it, not resurrect
    the renamed column's bytes."""
    table.create(
        spark.createDataFrame([(1, "old")], "id long, v string").coalesce(1)
    )
    table.rename_column("v", "label")
    table.append(
        spark.createDataFrame(
            [(2, "lab2", "fresh")], "id long, label string, v string"
        ).coalesce(1)
    )
    rows = {r["id"]: (r["label"], r["v"]) for r in table.read().collect()}
    assert rows[1] == ("old", None)  # old file: renamed col maps, new col null
    assert rows[2] == ("lab2", "fresh")


def test_rename_chain_swap(spark, table):
    """a->b then c->a: logical names swap around fixed physical names;
    every read resolves through the mapping chain."""
    table.create(
        spark.createDataFrame([(1, 10, 20)], "id long, a long, c long").coalesce(1)
    )
    table.rename_column("a", "b")
    table.rename_column("c", "a")
    df = table.read()
    assert set(df.columns) == {"id", "b", "a"}
    (r,) = df.collect()
    assert (r["b"], r["a"]) == (10, 20)


def test_append_racing_rename_raises_not_orphans(spark, table, monkeypatch):
    """An append whose data files are already written under the old
    physical names must NOT retry past a concurrent rename that changes
    those physicals (the committed mapping would read the column as
    null) — it surfaces CommitConflictError and the caller re-runs."""
    table.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    real_write = table._write_files

    def write_and_rename(df_, cluster_by, mapping=None):
        adds = real_write(df_, cluster_by, mapping)
        # rename lands AFTER our files are written, BEFORE our commit
        table.rename_column("v", "w")
        return adds

    monkeypatch.setattr(table, "_write_files", write_and_rename)
    with pytest.raises(CommitConflictError, match="raced a column rename"):
        # the incoming frame re-adds logical "v": post-rename it needs a
        # minted physical, but our files already carry physical "v"
        table.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    # nothing half-committed; a clean re-run succeeds with the new mapping
    monkeypatch.setattr(table, "_write_files", real_write)
    table.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    rows = {r["id"]: (r["w"], r["v"]) for r in table.read().collect()}
    assert rows[1] == ("a", None)   # renamed column maps; new "v" is fresh
    assert rows[3] == (None, "c")


def test_drop_column_metadata_only_and_no_resurrection(spark, table):
    """Drop rewrites nothing; a later re-add of the same logical name
    must read NULL from pre-drop files (fresh physical), never the
    dropped values; time travel before the drop still sees them."""
    table.create(
        spark.createDataFrame(
            [(1, "secret", 10)], "id long, v string, x long"
        ).coalesce(1),
        cluster_by=["id", "v"],
    )
    before_bytes = _data_files(table)
    v_pre = table.latest_version()
    table.drop_column("v")
    assert _data_files(table) == before_bytes  # not a byte rewritten
    assert set(table.read().columns) == {"id", "x"}
    assert "v" in table.read(version=v_pre).columns  # time travel intact

    # re-add the SAME logical name: fresh physical, old values stay gone
    table.append(
        spark.createDataFrame([(2, "new", 20)], "id long, v string, x long").coalesce(1)
    )
    rows = {r["id"]: r["v"] for r in table.read().collect()}
    assert rows == {1: None, 2: "new"}

    # merges still work on the surviving cluster column
    table.merge(spark.createDataFrame([(1, "upd", 11)], "id long, v string, x long"), "id")
    rows = {r["id"]: (r["v"], r["x"]) for r in table.read().collect()}
    assert rows == {1: ("upd", 11), 2: ("new", 20)}

    with pytest.raises(ValueError, match="no column"):
        table.drop_column("nope")


def test_snapshot_admin_cli_actions(spark, tmp_path):
    """The maintenance CLI (tools/snapshot_admin.py) drives every admin
    action against a real table through the same dispatch main() uses."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.snapshot_admin import build_parser, run

    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, v string"
        ).repartition(4),
        cluster_by=["id"],
    )
    t.append(spark.createDataFrame([(99, "x")], "id long, v string").coalesce(1))

    def go(argv):
        return run(build_parser().parse_args([path, *argv]), spark=spark)

    desc = go(["describe"])
    assert desc["rows"] == 21 and desc["n_files"] >= 2
    assert desc["schema"][0].startswith("id:")

    rep = go(["compact", "--target-files", "1"])
    assert rep["files_after"] == 1
    rep = go(["zorder", "--cols", "id,v", "--target-files", "2"])
    assert rep["zorder_by"] == ["id", "v"]
    assert go(["rename", "--old", "v", "--new", "label"])["version"] > 0
    assert go(["drop", "--col", "label"])["version"] > 0
    assert {h["operation"] for h in go(["history"])["history"]} >= {
        "create", "append", "compact", "zorder", "rename", "drop"
    }
    # round-8 actions: constraints / generated inspect, binpack,
    # set-cluster-by, restore
    assert go(["add-constraint", "--name", "id_ok", "--expr", "id >= 0"])[
        "version"
    ] > 0
    listed = go(["constraints"])
    assert listed["constraints"] == {"id_ok": "id >= 0"}
    v_mark = go(["describe"])["version"]
    assert go(["set-cluster-by", "--cols", "id"])["version"] == v_mark + 1
    assert go(["binpack", "--max-file-mb", "512"])["files_after"] >= 1
    assert go(["restore", "--version", str(v_mark)])["version"] > v_mark
    assert go(["drop-constraint", "--name", "id_ok"])["version"] > 0
    assert go(["constraints"])["constraints"] == {}
    desc2 = go(["describe"])
    assert desc2["rows"] == 21 and "n_dv_masked_files" in desc2

    deleted = go(["vacuum", "--retain-last", "1"])["files_deleted"]
    assert deleted >= 1  # superseded pre-compaction files go
    assert SnapshotTable(spark, path).read().count() == 21


def test_append_of_reintroduced_column_retries_through_plain_race(spark, table):
    """Review finding: an append that MINTS a physical (re-adding a
    dropped name) and then loses a commit race to a PLAIN append must
    retry and commit with the physical it already wrote — not re-mint a
    fresh uuid and spuriously trip the rename guard."""
    table.create(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    table.drop_column("v")
    # the incoming frame re-adds logical "v" (physical must be minted);
    # a racer lands a plain append between our state load and commit
    table._store.put_if_absent(
        table._commit_name(table.latest_version() + 1),
        json.dumps(
            {"version": table.latest_version() + 1, "ts_unix": 0.0,
             "operation": "append", "add": [], "remove": []}
        ).encode(),
    )
    v = table.append(
        spark.createDataFrame([(2, "fresh")], "id long, v string").coalesce(1)
    )
    assert v == table.latest_version()
    rows = {r["id"]: r["v"] for r in table.read().collect()}
    assert rows == {1: None, 2: "fresh"}  # old 'v' stays dropped; new maps


def test_overwrite_after_rename_handles_physical_collisions(spark, table):
    """Review finding: an overwrite whose frame contains BOTH a renamed
    survivor (physical = old name) and a fresh column reusing that old
    name must mint a distinct physical — not write two columns to one
    physical name."""
    table.create(spark.createDataFrame([(1, 10)], "id long, a long").coalesce(1))
    table.rename_column("a", "b")
    table.overwrite(
        spark.createDataFrame([(2, 20, 99)], "id long, b long, a long").coalesce(1)
    )
    (r,) = table.read().collect()
    assert (r["id"], r["b"], r["a"]) == (2, 20, 99)


def test_overwrite_retires_dropped_physicals_no_cdf_resurrection(spark, table):
    """Review finding: an overwrite that drops a renamed column must
    retire its physical — a later append re-adding the ORIGINAL name
    must read NULL from history, and the change feed spanning the
    overwrite must show the old values under the OLD schema, never
    attributed to the new column."""
    table.create(spark.createDataFrame([(1, 7)], "id long, a long").coalesce(1))
    table.rename_column("a", "b")  # physical of b is 'a'
    v_pre = table.latest_version()
    table.overwrite(spark.createDataFrame([(2,)], "id long").coalesce(1))
    table.append(spark.createDataFrame([(3, 55)], "id long, a long").coalesce(1))
    rows = {r["id"]: r["a"] for r in table.read().collect()}
    # id 2's row predates column 'a' (new physical): NULL — and id 1 is
    # gone entirely; nothing resurrects the old physical 'a' (= logical b)
    assert rows == {2: None, 3: 55}
    ch = table.read_changes(v_pre).collect()
    deleted = [r for r in ch if r["_change_type"] == "delete"]
    # the overwritten row appears as a delete with a NULL new-'a' value —
    # its old physical 'a' payload (logical b = 7) must NOT leak into it
    assert [(r["id"], r["a"]) for r in deleted] == [(1, None)]


def test_blob_mtime_missing_key_raises_filenotfound(tmp_path):
    """The DataStore contract pins FileNotFoundError for a missing key:
    vacuum's orphan-grace guard catches exactly that type, so a store
    leaking KeyError would abort a vacuum racing a concurrent delete."""
    from wopen_spark.snapshot_table import BlobDataStore

    store = BlobDataStore(str(tmp_path / "scratch"))
    with pytest.raises(FileNotFoundError):
        store.mtime("data/nope/part-00000.parquet")


def test_vacuum_sweeps_stale_parquetless_commit_dirs(spark, table):
    """A zero-row append publishes no parquet (empty part files are
    deleted at write time), leaving a _SUCCESS-only commit dir that
    list_data_files never enumerates. Vacuum must sweep such dirs once
    they age past the orphan grace window — and must NOT touch fresh
    ones, which may be a concurrent writer's in-flight output."""
    table.create(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    table.append(spark.createDataFrame([], "id long, v string"))
    data_root = os.path.join(table.path, "data")

    def parquetless_dirs():
        return [
            d
            for d in os.listdir(data_root)
            if not any(
                n.endswith(".parquet")
                for n in os.listdir(os.path.join(data_root, d))
            )
        ]

    stale = parquetless_dirs()
    assert stale, "empty append should leave a parquet-less commit dir"
    table.vacuum(retain_last=1)  # default grace: fresh dirs survive
    assert parquetless_dirs() == stale
    table.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert parquetless_dirs() == []
    # the real commit's data is untouched
    assert _rows(table.read().select("id", "v")) == [(1, "a")]


def test_check_constraints_enforced_on_every_write_path(spark, table):
    """CHECK constraints: add validates existing rows, every ingest path
    (append / overwrite / merge / update, both modes) rejects a violating
    batch whole, NULL satisfies (SQL CHECK), drop re-opens the gate, and
    the constraint set survives commits and a fresh table handle."""
    from wopen_spark.snapshot_table import ConstraintViolationError

    def mk(rows):
        return spark.createDataFrame(rows, "id long, v string").coalesce(1)

    table.create(mk([(1, "a"), (2, "b")]))
    table.add_constraint("id_nonneg", "id >= 0")
    assert table.constraints() == {"id_nonneg": "id >= 0"}

    # adding a constraint the CURRENT rows violate must fail, not commit
    v = table.latest_version()
    with pytest.raises(ConstraintViolationError):
        table.add_constraint("id_small", "id < 2")
    assert table.latest_version() == v
    with pytest.raises(ValueError):
        table.add_constraint("id_nonneg", "true")  # duplicate name
    with pytest.raises(ValueError):
        table.add_constraint("bad name!", "true")

    # append: rejected whole; table unchanged
    with pytest.raises(ConstraintViolationError) as ei:
        table.append(mk([(3, "c"), (-1, "x")]))
    assert "id_nonneg" in str(ei.value)
    assert table.latest_version() == v
    assert _rows(table.read()) == [(1, "a"), (2, "b")]
    # NULL passes CHECK
    table.append(mk([(None, "n"), (3, "c")]))

    # merge: incoming violating row rejected (both modes)
    for mode in ("cow", "dv"):
        with pytest.raises(ConstraintViolationError):
            table.merge(mk([(-5, "m")]), key="id", mode=mode)
    # update: assignment producing a violating image rejected (both modes)
    for mode in ("cow", "dv"):
        with pytest.raises(ConstraintViolationError):
            table.update_where("id = 3", {"id": "-id"}, mode=mode)
    # overwrite: enforced too
    with pytest.raises(ConstraintViolationError):
        table.overwrite(mk([(-9, "z")]))
    assert {tuple(r) for r in table.read().collect()} == {
        (None, "n"), (1, "a"), (2, "b"), (3, "c")
    }

    # passing update still lands
    table.update_where("id = 3", {"id": "id + 10"}, mode="dv")
    got = {tuple(r) for r in table.read().collect()}
    assert (None, "n") in got and (13, "c") in got

    # drop: violating append now lands; unknown drop raises
    with pytest.raises(ValueError):
        table.drop_constraint("nope")
    table.drop_constraint("id_nonneg")
    table.append(mk([(-1, "x")]))
    assert table.constraints() == {}

    # constraint set survives a checkpoint rollup and a fresh handle
    table.add_constraint("v_nonempty", "length(v) > 0")
    for i in range(CHECKPOINT_EVERY + 1):
        table.append(mk([(100 + i, f"r{i}")]))
    fresh = SnapshotTable(spark, table.path, log_store=table._store)
    assert fresh.constraints() == {"v_nonempty": "length(v) > 0"}
    with pytest.raises(ConstraintViolationError):
        fresh.append(mk([(200, "")]))


def test_cluster_evolution_is_metadata_only_then_migrates(spark, table):
    """set_cluster_by: the commit itself rewrites nothing (same file set,
    byte-identical manifests); future writes cluster on the new spec;
    a later bin-pack migrates the whole layout so a read_where range on
    the NEW cluster key starts skipping files."""
    import pyspark.sql.functions as SF

    df = spark.range(0, 400).select(
        SF.col("id"), (SF.col("id") % 4).alias("g")
    )
    table.create(df.repartition(4), cluster_by=["id"])
    files_before = set(table._state()["files"])
    v = table.set_cluster_by(["g"])
    assert v == table.latest_version()
    assert set(table._state()["files"]) == files_before  # metadata only
    assert table._state()["cluster_by"] == ["g"]

    # new writes range-cluster by g: each new file covers ~one g value
    table.append(
        spark.range(400, 800)
        .select(SF.col("id"), (SF.col("id") % 4).alias("g"))
        .repartition(4)
    )
    # migrate the old layout too (4 range-clustered output files), then
    # a g-range scan must skip the files whose g-range can't match
    table.compact(target_files=4)
    _, report = table.read_where({"g": (0, 0)})
    assert report["files_skipped_by_stats"] > 0, report
    # logical rows intact through the whole evolution
    assert table.read().count() == 800
    # unknown column rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table.set_cluster_by(["nope"])


def test_bloom_skips_point_probe_where_ranges_overlap(spark, table):
    """Per-file bloom on the leading cluster column: two appends whose
    key RANGES overlap but whose key SETS are disjoint — a point probe
    on a key only the second batch holds must bloom-skip the first
    batch's file (min/max alone cannot), and the read stays exact."""
    def mk(gs):
        rows = [(i, g) for i, g in enumerate(gs)]
        return spark.createDataFrame(rows, "id long, g long").coalesce(1)

    table.create(mk([0, 4, 0, 4]), cluster_by=["g"])      # range [0,4]
    table.append(mk([2, 6, 2, 6]))                        # range [2,6]
    df, report = table.read_where({"g": (2, 2)})
    assert report["files_skipped_by_bloom"] >= 1, report
    assert [r["g"] for r in df.collect()] == [2, 2]
    # a value NO file holds: everything skippable
    df3, r3 = table.read_where({"g": (3, 3)})
    assert df3.count() == 0
    assert r3["files_read"] == 0, r3
    # range probes never consult the bloom: both files read, both rows
    df2, r2 = table.read_where({"g": (2, 4)})
    assert r2["files_skipped_by_bloom"] == 0
    assert sorted(r["g"] for r in df2.collect()) == [2, 2, 4, 4]


def test_restore_rolls_back_as_a_new_commit(spark, table):
    """RESTORE: the table reads exactly like the target version, history
    stays linear (a NEW commit, nothing rewritten), dv masks as of the
    target are restored, later writes proceed normally, and restoring
    past vacuumed files raises instead of resurrecting ghosts."""
    def mk(rows):
        return spark.createDataFrame(rows, "id long, v string").coalesce(1)

    table.create(mk([(1, "a"), (2, "b"), (3, "c")]))
    table.delete_where("id = 2", mode="dv")     # v2: dv mask
    v2 = table.latest_version()
    table.append(mk([(4, "d")]))                # v3
    table.update_where("id = 1", {"v": "'A'"}, mode="cow")  # v4
    assert _rows(table.read()) == [(1, "A"), (3, "c"), (4, "d")]

    v5 = table.restore(v2)
    assert v5 == table.latest_version()         # linear history, new head
    assert _rows(table.read()) == [(1, "a"), (3, "c")]  # dv mask restored
    assert [h["operation"] for h in table.history()][-1] == "restore"
    # time travel BOTH ways still works
    assert _rows(table.read(version=v2)) == [(1, "a"), (3, "c")]
    assert (4, "d") in _rows(table.read(version=v5 - 1))

    # life goes on after a restore
    table.append(mk([(5, "e")]))
    assert _rows(table.read()) == [(1, "a"), (3, "c"), (5, "e")]

    # fold the restore through the change feed: signed deltas across the
    # restore commit reconcile to the restored state
    from pyspark.sql import functions as SF

    ch = table.read_changes(v5 - 1, v5)
    net = {
        r["id"]: r["n"]
        for r in ch.groupBy("id")
        .agg(
            SF.sum(
                SF.when(SF.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("n")
        )
        .collect()
    }
    # id=4 net -1 (leaves), id=1 delete(A)+insert(a) nets 0, 2 nets -? :
    # 2 was dv-masked in the restored state: inserted with its file then
    # re-deleted by the restored mask -> net 0 while absent either side
    assert net[4] == -1
    assert net.get(1, 0) == 0 and net.get(3, 0) == 0 and net.get(2, 0) == 0

    # restore blocked once the target's files are vacuumed
    table.update_where("id = 3", {"v": "'Z'"}, mode="cow")
    table.vacuum(retain_last=1, orphan_grace_s=0)
    with pytest.raises(VacuumedVersionError):
        table.restore(v2)


def test_generated_columns_compute_validate_update_drop(spark, table):
    """ALWAYS GENERATED AS: absent -> computed at write; supplied ->
    validated null-safely (batch rejected whole on mismatch); updates
    recompute from the updated row and direct assignment is blocked;
    rename/drop of the column or its dependencies is blocked while the
    rule exists; dropping the rule frees the column."""
    from wopen_spark.snapshot_table import ConstraintViolationError

    def mk(rows, ddl="id long, v string"):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    table.create(mk([(1, "a"), (2, "bb")]))
    with pytest.raises(ValueError):
        table.add_generated_column("v", "upper(v)", "string")  # exists
    table.add_generated_column("v_len", "length(v)", "int")
    assert table.generated_columns() == {
        "v_len": {"expr": "length(v)", "type": "int"}
    }

    # absent at write -> computed; schema evolves at this first write
    table.append(mk([(3, "ccc")]))
    got = {r["id"]: r["v_len"] for r in table.read().collect()}
    assert got == {1: None, 2: None, 3: 3}  # pre-add rows read NULL

    # supplied and RIGHT -> accepted; supplied and WRONG -> rejected whole
    table.append(mk([(4, "dddd", 4)], "id long, v string, v_len int"))
    v = table.latest_version()
    with pytest.raises(ConstraintViolationError):
        table.append(mk([(5, "e", 99)], "id long, v string, v_len int"))
    assert table.latest_version() == v

    # update recomputes from the UPDATED row (both modes)
    table.update_where("id = 3", {"v": "'cc'"}, mode="cow")
    table.update_where("id = 4", {"v": "'d'"}, mode="dv")
    got = {r["id"]: (r["v"], r["v_len"]) for r in table.read().collect()}
    assert got[3] == ("cc", 2) and got[4] == ("d", 1)
    with pytest.raises(ValueError):
        table.update_where("id = 3", {"v_len": "9"})  # direct assignment

    # merge computes it for incoming rows too
    table.merge(mk([(2, "zzzzz"), (6, "ff")]), key="id", mode="cow")
    got = {r["id"]: r["v_len"] for r in table.read().collect()}
    assert got[2] == 5 and got[6] == 2

    # dependency and column are schema-locked while the rule exists
    with pytest.raises(ValueError):
        table.rename_column("v", "v2")
    with pytest.raises(ValueError):
        table.drop_column("v_len")
    table.drop_generated_column("v_len")
    table.rename_column("v", "v2")          # free again
    table.append(mk([(7, "g")], "id long, v2 string"))  # v_len now plain
    got = {r["id"]: r["v_len"] for r in table.read().collect()}
    assert got[7] is None


def test_read_where_cross_type_probe_keeps_file(spark, table):
    """A string probe on a long column: Spark's filter coerces it and
    returns the row, so the stats (and the int bloom) must not be
    compared with it — no TypeError, no skip."""
    table.create(
        spark.createDataFrame([(5, "a"), (6, "b")], "id long, s string").coalesce(1),
        cluster_by=["id"],
    )
    df, rep = table.read_where({"id": ("5", "5")})
    assert [r.s for r in df.collect()] == ["a"]
    assert rep["files_read"] == 1
    assert rep["files_skipped_by_stats"] == 0 and rep["files_skipped_by_bloom"] == 0


def test_review_fixes_subset_schema_bloom_types_restore_guard(spark, table):
    """Round-8 review regressions pinned: (a) CHECK constraints and
    generation rules treat columns a legal subset-schema batch omits as
    NULL instead of crashing analysis; (b) non-integer/string cluster
    columns get NO bloom (a float bloom would false-negative on probe
    representation) and a mistyped probe never consults one; (c) restore
    is blocked while a rule references a column the restored schema
    lacks; (d) a cow merge rewrite fills generated values on survivor
    rows it rewrites anyway."""
    from wopen_spark.snapshot_table import ConstraintViolationError

    def mk(rows, ddl):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    table.create(mk([(1, "a", 1.5)], "id long, v string, score double"))
    table.add_constraint("v_nonempty", "length(v) > 0")
    table.add_generated_column("v_up", "upper(v)", "string")
    # (a) subset batch WITHOUT v: constraint sees NULL -> passes; the
    # generated column computes to NULL via the same semantics
    table.append(mk([(2,)], "id long"))
    got = {r["id"]: (r["v"], r["v_up"]) for r in table.read().collect()}
    assert got[2] == (None, None)
    # ...and a subset batch violating nothing else still enforces v when present
    with pytest.raises(ConstraintViolationError):
        table.append(mk([(3, "")], "id long, v string"))

    # (c) restore to v1 (pre-rule schema keeps v; fine) vs a rule on a
    # column that would vanish: add a column, constrain it, try restore
    v_before_add = table.latest_version()
    table.append(mk([(4, "d", 2.5, 9)], "id long, v string, score double, extra long"))
    table.add_constraint("extra_ok", "extra IS NULL OR extra >= 0")
    with pytest.raises(ValueError):
        table.restore(v_before_add)  # 'extra' vanishes but extra_ok refs it
    table.drop_constraint("extra_ok")
    table.restore(v_before_add)  # now legal

    # (d) cow merge rewrite computes v_up for survivor rows in touched files
    table.merge(mk([(1, "zz", 0.0)], "id long, v string, score double"), key="id")
    got = {r["id"]: r["v_up"] for r in table.read().collect()}
    assert got[1] == "ZZ"

    # (b) float cluster column -> no bloom sidecar at all
    t2 = SnapshotTable(spark, table.path + "_float")
    t2.create(
        mk([(i, float(i)) for i in range(8)], "id long, score double")
        .repartition(2),
        cluster_by=["score"],
    )
    assert all(
        "bloom" not in m for m in t2._state()["files"].values()
    ), "float cluster column must not carry blooms"
    # int-keyed table: a STRING probe must not consult the i64 bloom
    t3 = SnapshotTable(spark, table.path + "_int")
    t3.create(
        mk([(i, "x") for i in range(0, 8, 2)], "id long, v string"),
        cluster_by=["id"],
    )
    t3.append(mk([(i, "y") for i in range(1, 8, 2)], "id long, v string"))
    # a well-typed int probe DOES consult the bloom: the even-batch file
    # spans [0,6] so range stats keep it for key 3, the bloom skips it
    df, rep = t3.read_where({"id": (3, 3)})
    assert rep["files_skipped_by_bloom"] >= 1
    assert [r["id"] for r in df.collect()] == [3]


def test_maintain_policy_thresholds(spark, tmp_path):
    """maintain(): under-threshold tables are untouched (no commit); at
    the threshold one binpack commit lands; dv-masked files always
    qualify (the mask purge is the point); vacuum runs when asked."""
    from wopen_spark.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1),
        cluster_by=["id"],
    )
    for i in range(2, 6):
        t.append(
            spark.createDataFrame([(i, "x")], "id long, v string").coalesce(1)
        )
    v = t.latest_version()
    rep = t.maintain(min_small_files=8)
    assert not rep["binpacked"] and t.latest_version() == v  # under threshold

    rep = t.maintain(min_small_files=5)
    assert rep["binpacked"] and t.latest_version() == v + 1
    assert len(t._state()["files"]) < 5

    # a dv mask makes maintenance due regardless of the count threshold
    t.delete_where("id = 3", mode="dv")
    rep = t.maintain(min_small_files=50, vacuum_retain_last=1)
    assert rep["binpacked"], rep
    assert not t._state()["dvs"], "binpack must purge the mask"
    assert rep["vacuum_removed"] >= 1
    rows = sorted(r.id for r in t.read().collect())
    assert rows == [1, 2, 4, 5]


def test_decimal_columns_write_without_stats(spark, tmp_path):
    """pyarrow raises ArrowNotImplementedError materializing footer
    statistics for some decimal physical widths; a decimal column must
    still write (add-action derived, no stats for that column — never
    file-skipped) and read back exactly."""
    from wopen_spark.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.sql(
        "SELECT id, CAST(id AS DECIMAL(10,2)) / 4 AS amount, "
        "CAST(id AS DECIMAL(38,10)) AS wide FROM range(10)"
    )
    t.create(df.coalesce(1), cluster_by=["id"])
    t.append(df.coalesce(1))
    state = t._state()
    for meta in state["files"].values():
        assert "id" in meta["stats"], "plain columns keep stats"
        assert "amount" not in meta["stats"]
        assert "wide" not in meta["stats"]
    got = t.read().groupBy().agg({"amount": "sum", "id": "count"}).collect()[0]
    assert str(got["sum(amount)"]) == str(
        df.groupBy().sum("amount").collect()[0][0] * 2
    )


def test_optimize_where_scopes_compaction(spark, tmp_path):
    """OPTIMIZE ... WHERE (stats-scoped bin-packing): only files whose
    footer ranges overlap the predicate are rewritten; out-of-range
    files survive as untouched bytes — the compact-the-hot-range shape
    a 100 TB table needs."""
    from wopen_spark.snapshot_table import SnapshotTable
    from wopen_spark.sql_dml import execute_sql

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.range(0, 1000)
        .selectExpr("id", "id * 2 AS v")
        .repartitionByRange(10, "id"),
        cluster_by=["id"],
    )
    state = t._state()
    assert len(state["files"]) == 10
    lows = sorted(
        rel for rel, m in state["files"].items()
        if m["stats"]["id"]["max"] < 300
    )
    highs = sorted(set(state["files"]) - set(lows))
    rep = execute_sql(
        spark, "OPTIMIZE t WHERE id BETWEEN 0 AND 299", tables={"t": t}
    )
    assert rep["files_selected"] == len(lows)
    after = t._state()["files"]
    for rel in highs:
        assert rel in after, "out-of-range files must be untouched"
    for rel in lows:
        assert rel not in after, "in-range files must be rewritten"
    assert t.read().count() == 1000
    # refusal: non-BETWEEN predicate shapes
    import pytest as _pytest

    with _pytest.raises(ValueError, match="BETWEEN"):
        execute_sql(spark, "OPTIMIZE t WHERE id > 5", tables={"t": t})
