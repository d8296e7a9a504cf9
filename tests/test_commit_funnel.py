"""The commit funnel's conflict policy, one lost race per operation.

Every committing operation runs with a racer commit injected through
the log store's ``put_if_absent`` just before its own publish (the
pattern of ``tests/test_catalog.py``'s lost-race test). Three outcomes:

- commuting appends rebase and land at the next version;
- a racer that committed our own txn makes the call a no-op;
- every other operation raises ``CommitConflictError`` and leaves the
  racer's commit as the readable head.
"""

from __future__ import annotations

import json
import logging
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from wopen_spark.datasource import (
    _resolve_table,
    _SnapshotStreamWriter,
    _SnapshotWriter,
)
from wopen_spark.snapshot_table import (
    COMMIT_ATTEMPTS,
    CommitConflictError,
    SnapshotTable,
)

SCHEMA = "id long, v string"
STRUCT = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _ids(table) -> list[int]:
    return sorted(r.id for r in SnapshotTable(table.spark, table.path).read().collect())


def _inject(monkeypatch, handle, racer, times: int = 1) -> list[str]:
    """Run ``racer()`` right before each of the next ``times`` publishes
    through ``handle``'s log store; returns the names it raced for."""
    real = handle._store.put_if_absent
    raced: list[str] = []

    def put_if_absent(name, data):
        if len(raced) < times:
            raced.append(name)
            racer()
        real(name, data)

    monkeypatch.setattr(handle._store, "put_if_absent", put_if_absent)
    return raced


def _ds_rows(rows):
    return pa.RecordBatch.from_pylist(
        [{"id": i, "v": v} for i, v in rows],
        schema=pa.schema([("id", pa.int64()), ("v", pa.string())]),
    )


def _ds_write(path: str, rows, overwrite: bool = False):
    """Drive the batch writer the way Spark does: plan, one task, the
    driver commit — and abort when the commit raises."""
    w = _SnapshotWriter(path, STRUCT, overwrite, {})
    msgs = [w.write(iter([_ds_rows(rows)]))]
    try:
        return w.commit(msgs)
    except Exception:
        w.abort(msgs)
        raise


def _stream_epoch(path: str, rows, batch_id: int):
    w = _SnapshotStreamWriter(path, STRUCT, {"txnapp": "sink"})
    return w.commit([w.write(iter([_ds_rows(rows)]))], batch_id)


def _merge(mode, txn=None):
    def run(t):
        return t.merge_into(
            _df(t.spark, [(1, "m"), (50, "m")]), "id",
            matched=[{"action": "update", "cond": None, "set": {"v": "s.v"}}],
            not_matched=[{"action": "insert", "cond": None}],
            mode=mode,
            **({"txn_app": "app", "txn_version": txn} if txn is not None else {}),
        )

    return run


def _noop(t):
    pass


def _new(t):
    """The operation's own row, id 50."""
    return _df(t.spark, [(50, "n")])


def _txn(**kw):
    return {"txn_app": "app", "txn_version": 7, **kw}


# name -> (prep, op, outcome, engine handle?)
CASES = {
    # commuting appends: rebase onto the racer and land after it
    "append": (_noop, lambda t: t.append(_new(t)), "lands", True),
    "ds_append": (_noop, lambda t: _ds_write(t.path, [(50, "n")]), "lands", False),
    "stream_epoch": (
        _noop, lambda t: _stream_epoch(t.path, [(50, "n")], 0), "lands", False,
    ),
    # our own txn committed by the racer: a no-op
    "append_txn": (_noop, lambda t: t.append(_new(t), **_txn()), "replay", True),
    "overwrite_txn": (_noop, lambda t: t.overwrite(_new(t), **_txn()), "replay", True),
    "merge_driver_txn": (_noop, _merge("dv", txn=7), "replay", True),
    "merge_distributed_txn": (_noop, _merge("cow", txn=7), "replay", True),
    "stream_epoch_replay": (
        _noop, lambda t: _stream_epoch(t.path, [(50, "n")], 7), "replay", False,
    ),
    # everything else raises and leaves the racer's commit readable
    "overwrite": (_noop, lambda t: t.overwrite(_new(t)), "raises", True),
    "ds_overwrite": (
        _noop, lambda t: _ds_write(t.path, [(50, "n")], overwrite=True),
        "raises", False,
    ),
    "merge_driver": (_noop, _merge("dv"), "raises", True),
    "merge_distributed": (_noop, _merge("cow"), "raises", True),
    "delete_cow": (_noop, lambda t: t.delete_where("id = 1"), "raises", True),
    "delete_dv": (
        _noop, lambda t: t.delete_where("id = 1", mode="dv"), "raises", True,
    ),
    "update_cow": (
        _noop, lambda t: t.update_where("id = 1", {"v": "'u'"}), "raises", True,
    ),
    "update_dv": (
        _noop, lambda t: t.update_where("id = 1", {"v": "'u'"}, mode="dv"),
        "raises", True,
    ),
    "compact": (_noop, lambda t: t.compact(), "raises", True),
    "optimize_small_files": (
        _noop, lambda t: t.optimize_small_files(), "raises", True,
    ),
    "optimize_zorder": (
        _noop, lambda t: t.optimize_zorder(["id"], target_files=1), "raises", True,
    ),
    "restore": (_noop, lambda t: t.restore(1), "raises", True),
    "add_constraint": (
        _noop, lambda t: t.add_constraint("pos", "id >= 0"), "raises", True,
    ),
    "drop_constraint": (
        lambda t: t.add_constraint("pos", "id >= 0"),
        lambda t: t.drop_constraint("pos"), "raises", True,
    ),
    "set_cluster_by": (_noop, lambda t: t.set_cluster_by(["id"]), "raises", True),
    "add_generated_column": (
        _noop, lambda t: t.add_generated_column("g", "id * 2", "bigint"),
        "raises", True,
    ),
    "drop_generated_column": (
        lambda t: t.add_generated_column("g", "id * 2", "bigint"),
        lambda t: t.drop_generated_column("g"), "raises", True,
    ),
    "rename_column": (_noop, lambda t: t.rename_column("v", "w"), "raises", True),
    "drop_column": (_noop, lambda t: t.drop_column("v"), "raises", True),
    "add_columns": (_noop, lambda t: t.add_columns([("n", "int")]), "raises", True),
    "widen_column": (
        lambda t: t.add_columns([("n", "int")]),
        lambda t: t.widen_column("n", "bigint"), "raises", True,
    ),
}


def _append_racer(table, **kw):
    """A racer that appends row 99 through its own handle."""
    handle = SnapshotTable(table.spark, table.path)
    return lambda: handle.append(_df(table.spark, [(99, "r")]), **kw)


@pytest.fixture
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    return t


@pytest.mark.parametrize("name", sorted(CASES))
def test_lost_race_policy(spark, table, monkeypatch, name):
    prep, op, outcome, engine = CASES[name]
    prep(table)
    if outcome != "replay":
        racer = _append_racer(table)
    elif name.startswith("stream"):
        racer = _append_racer(table, **_txn(txn_app="sink"))
    else:
        racer = _append_racer(table, **_txn())
    before = table.latest_version()
    handle = table if engine else _resolve_table(table.path, {})
    raced = _inject(monkeypatch, handle, racer)
    if outcome == "raises":
        with pytest.raises(CommitConflictError, match="committed by another writer"):
            op(table)
        assert table.latest_version() == before + 1  # the racer's commit
    else:
        op(table)
        after = before + 2 if outcome == "lands" else before + 1
        assert table.latest_version() == after
    assert raced == [table._commit_name(before + 1)]
    ids = _ids(table)
    assert 99 in ids  # the racer's row is readable
    assert (50 in ids) == (outcome == "lands")


@pytest.mark.parametrize("op", ["create", "convert_from_parquet", "ds_create"])
def test_lost_create_race_raises(spark, tmp_path, monkeypatch, op):
    path = str(tmp_path / "t")
    if op == "convert_from_parquet":
        os.makedirs(path)
        pq.write_table(
            pa.Table.from_batches([_ds_rows([(7, "p")])]),
            os.path.join(path, "p.parquet"),
        )
    table = SnapshotTable(spark, path)
    run = {
        "create": lambda: table.create(_df(spark, [(1, "a")])),
        "convert_from_parquet": lambda: table.convert_from_parquet(),
        "ds_create": lambda: _ds_write(path, [(1, "a")]),
    }[op]
    handle = _resolve_table(path, {}) if op == "ds_create" else table
    _inject(
        monkeypatch, handle,
        lambda: SnapshotTable(spark, path).create(_df(spark, [(99, "r")])),
    )
    with pytest.raises(CommitConflictError, match="committed by another writer"):
        run()
    assert table.latest_version() == 1 and _ids(table) == [99]


def test_datasource_overwrite_race_keeps_racer_commit(spark, table, monkeypatch):
    """A lost overwrite race raises instead of recomputing ``remove``
    from the new head (which would delete the racer's unread files);
    abort removes the overwrite's shards."""
    _inject(monkeypatch, _resolve_table(table.path, {}), _append_racer(table))
    with pytest.raises(CommitConflictError):
        _ds_write(table.path, [(50, "n")], overwrite=True)
    assert _ids(table) == [1, 2, 3, 99]
    live = set(table._state()["files"])
    on_disk = {
        os.path.relpath(os.path.join(d, f), table.path)
        for d, _, fs in os.walk(os.path.join(table.path, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live  # no orphan shard left behind


def test_datasource_append_rechecks_refusals_after_lost_race(spark, table, monkeypatch):
    """A lost race rebases the batch append only onto a head its input
    still matches: a racer that drops a written column makes the write
    refuse, instead of committing shards whose column no longer reads."""
    racer = SnapshotTable(spark, table.path)
    _inject(monkeypatch, _resolve_table(table.path, {}), lambda: racer.drop_column("v"))
    with pytest.raises(ValueError, match="must equal the table schema"):
        _ds_write(table.path, [(50, "n")])
    assert _ids(table) == [1, 2, 3]


def test_stream_sink_create_race_takes_the_winners_table(spark, tmp_path, monkeypatch):
    """Two sinks starting on an absent table: the one that loses the
    create race checks its input against the winner's schema."""
    path = str(tmp_path / "t")
    winner = SnapshotTable(spark, path)
    _inject(
        monkeypatch, _resolve_table(path, {}),
        lambda: winner.create(_df(spark, [(99, "r")])),
    )
    _stream_epoch(path, [(1, "a")], 0)  # no raise: the winner's schema matches
    assert winner.latest_version() == 2 and _ids(winner) == [1, 99]

    other = str(tmp_path / "u")
    _inject(
        monkeypatch, _resolve_table(other, {}),
        lambda: SnapshotTable(spark, other).create(
            spark.createDataFrame([(1,)], "id long")
        ),
    )
    with pytest.raises(ValueError, match="must equal the table schema"):
        _SnapshotStreamWriter(other, STRUCT, {"txnapp": "sink"})


@pytest.fixture
def landing(tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    for k in range(3):
        pq.write_table(
            pa.Table.from_batches([_ds_rows([(10 + k, "f")])]),
            str(src / f"f{k}.parquet"),
        )
    return str(src)


def test_copy_into_rebases_without_rewriting(spark, table, landing, monkeypatch):
    """A racer that loaded none of the files costs a rebase, not a second
    write of the data files."""
    writes = []
    real = table._write_files

    def counting(*a, **kw):
        writes.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(table, "_write_files", counting)
    before = table.latest_version()
    _inject(monkeypatch, table, _append_racer(table))
    r = table.copy_into(landing)
    assert r == {"version": before + 2, "files_loaded": 3, "files_skipped": 0}
    assert len(writes) == 1
    assert _ids(table) == [1, 2, 3, 10, 11, 12, 99]


def test_copy_into_racing_a_partial_copy_raises(spark, table, landing, monkeypatch):
    racer = SnapshotTable(spark, table.path)
    _inject(
        monkeypatch, table, lambda: racer.copy_into(landing, pattern="f0.parquet")
    )
    with pytest.raises(CommitConflictError, match="re-run copy_into"):
        table.copy_into(landing)
    assert _ids(table) == [1, 2, 3, 10]


def test_copy_into_racing_a_full_copy_is_a_noop(spark, table, landing, monkeypatch):
    before = table.latest_version()
    racer = SnapshotTable(spark, table.path)
    _inject(monkeypatch, table, lambda: racer.copy_into(landing))
    r = table.copy_into(landing)
    assert r == {"version": before + 1, "files_loaded": 0, "files_skipped": 3}
    assert _ids(table) == [1, 2, 3, 10, 11, 12]  # loaded exactly once


def _empty_append(table, name):
    """Publish a bare append record under ``name`` (no Spark)."""
    version = int(name[:8])
    table._store.put_if_absent(
        name,
        json.dumps(
            {"version": version, "ts_unix": 0.0, "operation": "append",
             "add": [], "remove": []}
        ).encode(),
    )


def test_each_conflict_logs_one_record(spark, table, monkeypatch, caplog):
    caplog.set_level(logging.INFO, logger="wopen_spark.snapshot_table")
    racer = SnapshotTable(spark, table.path)
    before = table.latest_version()
    raced = _inject(
        monkeypatch, table,
        lambda: _empty_append(racer, racer._commit_name(racer.latest_version() + 1)),
        times=2,
    )
    assert table.append(_df(spark, [(50, "n")])) == before + 3
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == "wopen_spark.snapshot_table"
    ]
    lost = [m for m in msgs if "lost the race" in m]
    assert len(lost) == len(raced) == 2
    assert "commit append of" in lost[0] and f"version {before + 1}" in lost[0]
    assert "(attempt 1)" in lost[0] and "(attempt 2)" in lost[1]
    assert len([m for m in msgs if "rebased" in m]) == 2


def test_exhausted_budget_raises_one_error(spark, table, monkeypatch, caplog):
    caplog.set_level(logging.INFO, logger="wopen_spark.snapshot_table")
    racer = SnapshotTable(spark, table.path)
    _inject(
        monkeypatch, table,
        lambda: _empty_append(racer, racer._commit_name(racer.latest_version() + 1)),
        times=COMMIT_ATTEMPTS,
    )
    with pytest.raises(
        CommitConflictError,
        match=re.escape(f"append on {table.path} lost {COMMIT_ATTEMPTS} commit races"),
    ):
        table.append(_df(spark, [(50, "n")]))
    recs = [r for r in caplog.records if r.name == "wopen_spark.snapshot_table"]
    lost = [r for r in recs if "lost the race" in r.getMessage()]
    assert len(lost) == COMMIT_ATTEMPTS
    assert [r.levelno for r in recs if "gave up" in r.getMessage()] == [logging.WARNING]
    assert 50 not in _ids(table)
