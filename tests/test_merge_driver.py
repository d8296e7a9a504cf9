"""The bounded dv merge path of ``SnapshotTable.merge_into``.

A dv-mode merge whose source fits the engine's driver row budget
resolves in two fetch jobs and lands one data file and one mask file per
commit. Each test runs the same merges through that path and through the
distributed one (forced by setting the budget to 0) and requires the
same table, the same ``history()`` mask counts and the same change feed.
"""

from __future__ import annotations

import logging

import pytest

from wopen_spark import snapshot_table as st
from wopen_spark.snapshot_table import _DUP_MSG, SnapshotTable

SCHEMA = "k1 int, k2 string, name string, val double, day date, ok boolean"

_BASE = [
    (1, "a", "n1", 10.0, "2024-01-01", True),
    (2, "a", "n2", 20.0, "2024-01-02", False),
    (2, "b", "n3", 30.0, None, None),
    (3, "a", None, 40.0, "2024-01-04", True),
    (None, "a", "null-key", 50.0, "2024-01-05", True),
    (4, None, "null-k2", 60.0, "2024-01-06", False),
]


def _frame(spark, rows, schema=SCHEMA):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, schema.replace("day date", "day string"))
    return df.withColumn("day", F.to_date("day")) if "day" in df.columns else df


def _table(spark, path, rows=_BASE, **kw):
    t = SnapshotTable(spark, path)
    t.create(_frame(spark, rows), **kw)
    return t


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: tuple((x is None, str(x)) for x in r)
    )


def _both_paths(spark, tmp_path, monkeypatch, merges, base=_BASE):
    """Apply ``merges`` (callables taking a table) to two copies of a
    table, one per path; return both tables. Checks that the first copy
    really took the driver path and the second the distributed one."""
    tables = []
    for name, budget in (("driver", st.DRIVER_MAX_ROWS), ("distributed", 0)):
        monkeypatch.setattr(st, "DRIVER_MAX_ROWS", budget)
        t = _table(spark, str(tmp_path / name), base)
        for m in merges:
            m(t)
        tables.append(t)
    monkeypatch.undo()
    return tables


def _assert_same(a: SnapshotTable, b: SnapshotTable):
    assert a.read().schema == b.read().schema
    assert _rows(a.read()) == _rows(b.read())
    ha, hb = a.history(), b.history()
    assert [h["n_rows_dv_masked"] for h in ha] == [h["n_rows_dv_masked"] for h in hb]
    assert [h["operation"] for h in ha] == [h["operation"] for h in hb]
    assert _rows(a.read_changes(0)) == _rows(b.read_changes(0))


_UPSERT = dict(
    matched=[
        {"action": "delete", "cond": "s.val < 0"},
        {
            "action": "update",
            "cond": "s.val >= t.val",
            "set": {"val": "s.val", "name": "concat(t.name, s.name)", "day": "s.day"},
        },
    ],
    not_matched=[{"action": "insert", "cond": None}],
    mode="dv",
)


def test_driver_and_distributed_paths_agree(spark, tmp_path, monkeypatch, caplog):
    """Update, delete and a conditional update over a two-column key with
    NULLs on both sides, stacked over three commits (the later ones
    classify files an earlier one masked), plus an insert-only merge and
    a delete-only one."""
    batch1 = [
        (1, "a", "x", 11.0, "2025-01-01", False),  # update (11 >= 10)
        (2, "a", "y", 5.0, "2025-01-02", True),  # matched, cond false: kept
        (2, "b", "z", -1.0, None, None),  # delete
        (None, "a", "nk", 1.0, None, True),  # NULL key: never matches
        (4, None, "nk2", 1.0, None, False),  # NULL k2: never matches
        (7, "c", "new", 70.0, "2025-01-07", True),  # insert
    ]
    batch2 = [
        (1, "a", "x2", 12.0, "2025-02-01", True),  # updates batch1's image
        (7, "c", "gone", -5.0, None, None),  # deletes batch1's insert
        (8, "d", "new2", 80.0, None, None),
    ]
    batch3 = [(3, "a", None, 41.0, None, None), (9, "e", "ins-only", 9.0, None, None)]

    def merge(rows, **clauses):
        return lambda t: t.merge_into(
            _frame(spark, rows), ["k1", "k2"], **(clauses or _UPSERT)
        )

    with caplog.at_level(logging.DEBUG, logger="wopen_spark.snapshot_table"):
        a, b = _both_paths(
            spark, tmp_path, monkeypatch,
            [
                merge(batch1),
                merge(batch2),
                merge(batch3, not_matched=[{"action": "insert", "cond": None}], mode="dv"),
                merge(batch3[:1], matched=[{"action": "delete", "cond": None}], mode="dv"),
            ],
        )
    msgs = [r.getMessage() for r in caplog.records if "merge_into" in r.getMessage()]
    assert sum("driver path" in m for m in msgs) == 4, msgs
    assert sum("distributed path (source above 0 rows)" in m for m in msgs) == 4, msgs
    _assert_same(a, b)
    got = {(r.k1, r.k2): (r.name, r.val) for r in a.read().collect()}
    assert got[(1, "a")] == ("n1xx2", 12.0)
    assert got[(2, "a")] == ("n2", 20.0)
    assert (2, "b") not in got and (7, "c") not in got and (3, "a") not in got
    assert got[(9, "e")] == ("ins-only", 9.0)
    assert len([k for k in got if k == (None, "a")]) == 1  # target NULL-key row
    # the driver path lands one data file and one mask file per commit
    for h in a.history()[1:3]:
        assert h["n_added"] == 1
    dv_paths = [
        e["paths"] for v in (2, 3) for e in a._read_commit(v)["dv_add"]
    ]
    assert [len(p) for p in dv_paths] == [1, 1]


def test_clustered_table_paths_agree(spark, tmp_path, monkeypatch):
    """A ``cluster_by`` table takes the driver path too: its one data
    file per commit carries the bloom sidecar of the leading cluster
    column, and point reads skip by it as on the distributed path."""
    batch = [(1, "a", "x", 11.0, None, None), (40, "q", "new", 1.0, None, None)]

    def merge(t):
        t.set_cluster_by(["k1"])
        t.merge_into(_frame(spark, batch), ["k1", "k2"], **_UPSERT)

    a, b = _both_paths(spark, tmp_path, monkeypatch, [merge])
    _assert_same(a, b)
    (add,) = a._read_commit(3)["add"]
    assert add["bloom"]["col"] == "k1"
    for t in (a, b):
        df, rep = t.read_where({"k1": (40, 40)})
        assert [r.name for r in df.collect()] == ["new"]
    assert rep == a.read_where({"k1": (40, 40)})[1]


def test_dup_keyed_source_raises_on_both_paths(spark, tmp_path, monkeypatch):
    """A target row claimed by two source rows raises the Delta error on
    both paths and leaves the table and its data files as they were."""
    dup = [(1, "a", "x", 99.0, None, None), (1, "a", "y", 98.0, None, None)]
    for budget in (st.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(st, "DRIVER_MAX_ROWS", budget)
        t = _table(spark, str(tmp_path / f"b{budget}"))
        before = set(t._data.list_data_files())
        with pytest.raises(ValueError, match="multiple source rows") as err:
            t.merge_into(_frame(spark, dup), ["k1", "k2"], **_UPSERT)
        assert str(err.value) == _DUP_MSG
        assert set(t._data.list_data_files()) == before
        assert t.latest_version() == 1


def test_txn_replay_on_both_paths(spark, tmp_path, monkeypatch):
    """A replayed transaction commits nothing on either path, and an
    empty batch with a txn still records its high-water mark."""
    batch = [(1, "a", "x", 11.0, None, None), (5, "z", "new", 1.0, None, None)]

    def merge(rows, ver):
        def run(t):
            rep = t.merge_into(
                _frame(spark, rows), ["k1", "k2"], txn_app="app", txn_version=ver, **_UPSERT
            )
            return rep

        return run

    a, b = _both_paths(
        spark, tmp_path, monkeypatch,
        [merge(batch, 1), merge(batch, 1), merge([], 2), merge(batch, 2)],
    )
    _assert_same(a, b)
    assert a.latest_version() == 3 and a._state()["txns"] == {"app": 2}
    assert a.read().filter("k1 = 5").count() == 1


def test_driver_files_read_back_with_table_schema(spark, tmp_path):
    """Files written from the driver carry the table's Spark types: every
    column of every type the driver path accepts reads back equal, and
    the basenames are distinct part files."""
    from pyspark.sql import functions as F

    schema = (
        "id long, b tinyint, s smallint, i int, f float, d double, "
        "txt string, ok boolean, day date"
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, 1, 1, 1, 1.5, 1.25, "é", True, None)], schema.replace("day date", "day string")
    ).withColumn("day", F.to_date("day"))
    t.create(base)
    src = spark.createDataFrame(
        [(1, -2, -300, 7, 2.5, -0.0, "ü", False, "2024-02-29"), (2, None, None, None, None, None, None, None, None)],
        schema.replace("day date", "day string"),
    ).withColumn("day", F.to_date("day"))
    t.merge_into(src, "id", **_UPSERT | {"matched": [{"action": "update", "cond": None, "set": {c: f"s.{c}" for c in src.columns}}]})
    c = t._read_commit(2)
    rels = [m["path"] for m in c["add"]] + c["dv_add"][0]["paths"]
    assert len({r.rsplit("/", 1)[-1] for r in rels}) == 2
    assert all(r.rsplit("/", 1)[-1].startswith("part-") for r in rels)
    assert t.read().schema == src.schema
    assert _rows(t.read()) == _rows(src)


@pytest.mark.parametrize(
    "setup, reason",
    [
        (lambda t: t.add_constraint("pos", "val > -100"), "table has constraints"),
        (lambda t: t.add_generated_column("v2", "val * 2", "double"), "table has generated"),
        (lambda t: None, "cow mode"),
    ],
)
def test_fallbacks_are_logged(spark, tmp_path, caplog, setup, reason):
    """A merge the driver path cannot reproduce exactly runs the
    distributed path and says why at DEBUG."""
    t = _table(spark, str(tmp_path / "t"))
    setup(t)
    clauses = dict(_UPSERT, mode="cow" if reason == "cow mode" else "dv")
    with caplog.at_level(logging.DEBUG, logger="wopen_spark.snapshot_table"):
        t.merge_into(_frame(spark, [(1, "a", "x", 11.0, None, None)]), ["k1", "k2"], **clauses)
    assert any(
        f"distributed path ({reason})" in r.getMessage() for r in caplog.records
    ), [r.getMessage() for r in caplog.records]
    assert t.read().filter("k1 = 1").collect()[0].val == 11.0


def test_timestamp_source_column_falls_back(spark, tmp_path, caplog):
    """A source column whose type has no exact Arrow round trip (here a
    CDC timestamp that only conditions read) keeps the merge on the
    distributed path."""
    t = _table(spark, str(tmp_path / "t"))
    src = _frame(spark, [(1, "a", "x", 11.0, None, None)]).selectExpr(
        "*", "timestamp'2024-01-01 00:00:00' AS changed_at"
    )
    with caplog.at_level(logging.DEBUG, logger="wopen_spark.snapshot_table"):
        t.merge_into(src, ["k1", "k2"], **_UPSERT)
    assert any(
        "distributed path (column changed_at of type timestamp)" in r.getMessage()
        for r in caplog.records
    )


def test_legacy_date_rebase_falls_back(spark, tmp_path, caplog):
    """pyarrow writes proleptic dates without Spark's rebase metadata,
    which only the CORRECTED read mode returns unchanged: under a legacy
    mode a table with a date column merges on the distributed path."""
    key = "spark.sql.parquet.datetimeRebaseModeInRead"
    t = _table(spark, str(tmp_path / "t"))
    old = spark.conf.get(key)
    spark.conf.set(key, "LEGACY")
    try:
        with caplog.at_level(logging.DEBUG, logger="wopen_spark.snapshot_table"):
            t.merge_into(
                _frame(spark, [(1, "a", "x", 11.0, None, None)]), ["k1", "k2"], **_UPSERT
            )
    finally:
        spark.conf.set(key, old)
    assert any(
        "distributed path (date column day under a legacy rebase mode)"
        in r.getMessage()
        for r in caplog.records
    ), [r.getMessage() for r in caplog.records]
