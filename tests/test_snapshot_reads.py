"""Bounded snapshot reads resolve on the driver.

``read``, ``read_where`` and ``read_changes`` read the files a snapshot
selects with the pyarrow reader the ``wopen_snapshot`` tasks use and land
them as a local relation when the log says they fit the driver budget;
above it they stay a Spark scan with the mask anti-join. The differential
tests push the same tables through both paths (``DRIVER_MAX_ROWS = 0``
forces the Spark scan) and compare the frames after sorting.
"""

from __future__ import annotations

import logging
import re

import pytest
from pandas.testing import assert_frame_equal

import wopen_spark.snapshot_table as st
from tests.conftest import upsert
from wopen_spark.snapshot_table import SnapshotTable, VacuumedVersionError

_LOGGER = "wopen_spark.snapshot_table"


def _df(spark, rows, ddl="id long, v string", files=1):
    return spark.createDataFrame(rows, ddl).coalesce(files)


def _stacked_dv(spark, t):
    t.create(_df(spark, [(i, f"v{i}") for i in range(300)]).repartition(3))
    t.delete_where("id % 7 = 0", mode="dv")
    t.delete_where("id % 5 = 0", mode="dv")
    upsert(t, _df(spark, [(i, "u") for i in range(0, 400, 9)]), "id", mode="dv")
    return [
        ("read", lambda: t.read()),
        ("read_where", lambda: t.read_where({"id": (40, 160)})[0]),
        ("read_changes", lambda: t.read_changes(0)),
    ]


def _column_mapping(spark, t):
    t.create(_df(spark, [(i, f"v{i}") for i in range(50)]))
    t.rename_column("v", "label")
    t.append(_df(spark, [(i, f"w{i}") for i in range(50, 80)], "id long, label string"))
    t.delete_where("id % 4 = 0", mode="dv")
    assert t._state()["column_mapping"]
    return [
        ("read", lambda: t.read()),
        ("read_where", lambda: t.read_where({"id": (30, 70)})[0]),
        ("read_changes", lambda: t.read_changes(1)),
    ]


def _widened(spark, t):
    t.create(_df(spark, [(i, i * 0.5) for i in range(40)], "id int, x float"))
    t.append(_df(spark, [(2**40 + i, 2.5) for i in range(5)], "id long, x double"))
    t.delete_where("id % 3 = 0", mode="dv")
    assert dict(t.read().dtypes) == {"id": "bigint", "x": "double"}
    return [
        ("read", lambda: t.read()),
        ("read_where", lambda: t.read_where({"id": (10, 2**41)})[0]),
        ("read_changes", lambda: t.read_changes(0)),
    ]


def _time_travel(spark, t):
    t.create(_df(spark, [(i, f"v{i}") for i in range(60)], files=2))
    upsert(t, _df(spark, [(i, "u") for i in range(0, 90, 4)]), "id", mode="dv")
    t.overwrite(_df(spark, [(i, "o") for i in range(10)]))
    return [
        ("read", lambda: t.read(version=2)),
        ("read_where", lambda: t.read_where({"id": (5, 70)}, version=2)[0]),
        ("read_changes", lambda: t.read_changes(1, 2)),
    ]


def _empty_and_all_masked(spark, t):
    empty = SnapshotTable(spark, t.path + "_empty")
    empty.create(spark.createDataFrame([], "id long, v string"))
    t.create(_df(spark, [(i, "a") for i in range(20)]))
    t.append(_df(spark, [(i, "b") for i in range(20, 30)]))
    t.delete_where("id < 20", mode="dv")  # every row of the first file
    return [
        ("read", lambda: empty.read()),
        ("read_where", lambda: empty.read_where({"id": (1, 1)})[0]),
        ("read_changes", lambda: empty.read_changes(0)),
        ("read", lambda: t.read()),
        ("read_where", lambda: t.read_where({"id": (0, 25)})[0]),
        ("read_changes", lambda: t.read_changes(1)),
    ]


def _mixed_range(spark, t):
    t.create(_df(spark, [(i, f"v{i}") for i in range(80)]).repartition(4))
    t.delete_where("id >= 70")  # copy-on-write
    t.delete_where("id % 6 = 0", mode="dv")
    t.append(_df(spark, [(i, "n") for i in range(100, 110)]))
    rep = t.maintain(small_file_bytes=1 << 30, min_small_files=2)
    assert rep["binpacked"], rep
    t.delete_where("id % 5 = 0", mode="dv")
    return [
        ("read", lambda: t.read()),
        ("read_where", lambda: t.read_where({"id": (20, 105)})[0]),
        ("read_changes", lambda: t.read_changes(1)),
        ("read_changes", lambda: t.read_changes(2, 4)),
    ]


_CASES = {
    "stacked_dv": _stacked_dv,
    "column_mapping": _column_mapping,
    "widened": _widened,
    "time_travel": _time_travel,
    "empty_and_all_masked": _empty_and_all_masked,
    "mixed_range": _mixed_range,
}


def _sorted(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("case", sorted(_CASES))
def test_driver_and_spark_reads_agree(spark, tmp_path, monkeypatch, caplog, case):
    """Every public read returns the same rows, column types and column
    order on the driver path as through the Spark scan."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    reads = _CASES[case](spark, t)
    caplog.set_level(logging.DEBUG, logger=_LOGGER)
    budget = st.DRIVER_MAX_ROWS
    for op, read in reads:
        frames = {}
        for path, rows in (("driver path", budget), ("distributed path", 0)):
            monkeypatch.setattr(st, "DRIVER_MAX_ROWS", rows)
            caplog.clear()
            df = read()
            (took,) = [r.getMessage() for r in caplog.records if r.name == _LOGGER]
            # a read that selects no row fits even a 0-row budget
            assert f": {path} (" in took or ": driver path (0 rows" in took, took
            frames[path] = (_sorted(df.toPandas()), df.schema.names)
        (drv, drv_cols), (spk, spk_cols) = frames.values()
        assert drv_cols == spk_cols, (op, drv_cols, spk_cols)
        assert_frame_equal(drv, spk, obj=f"{case} {op}")


def test_read_where_on_vacuumed_version_raises_typed_error(spark, tmp_path, monkeypatch):
    """``read_where`` on a vacuumed version raises VacuumedVersionError,
    as ``read`` does, on both paths — not a raw path-not-found error
    from the scan."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, [(i, "a") for i in range(40)], files=4))
    t.overwrite(_df(spark, [(i, "b") for i in range(10)]))
    t.maintain(vacuum_retain_last=1)
    for rows in (st.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(st, "DRIVER_MAX_ROWS", rows)
        with pytest.raises(VacuumedVersionError, match="version 1 references"):
            t.read(version=1)
        with pytest.raises(VacuumedVersionError, match="version 1 references"):
            t.read_where({"id": (1, 1)}, version=1)
        assert sorted(r.id for r in t.read_where({"id": (0, 5)})[0].collect()) == [
            0, 1, 2, 3, 4, 5,
        ]


def test_each_public_read_logs_one_path_record(spark, tmp_path, monkeypatch, caplog):
    """Each public read emits exactly one DEBUG record naming its path:
    the driver path with rows and bytes, the distributed path with the
    reason (over budget, or a column type pyarrow cannot carry)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, [(i, "a") for i in range(10)]))
    ts = SnapshotTable(spark, str(tmp_path / "ts"))
    ts.create(spark.sql("SELECT 1L AS id, TIMESTAMP'2026-01-01 00:00:00' AS at"))
    caplog.set_level(logging.DEBUG, logger=_LOGGER)

    def records(fn):
        caplog.clear()
        fn()
        return [r for r in caplog.records if r.name == _LOGGER]

    reads = {
        "read": lambda tb: tb.read(),
        "read_where": lambda tb: tb.read_where({"id": (1, 1)}),
        "read_changes": lambda tb: tb.read_changes(0),
    }
    for op, read in reads.items():
        (rec,) = records(lambda: read(t))
        assert rec.levelno == logging.DEBUG
        assert re.fullmatch(
            rf"{op} {re.escape(t.path)}: driver path \(10 rows, \d+ bytes\)",
            rec.getMessage(),
        ), rec.getMessage()
        (rec,) = records(lambda: read(ts))
        assert rec.getMessage() == (
            f"{op} {ts.path}: distributed path (column at of type timestamp)"
        )
    monkeypatch.setattr(st, "DRIVER_MAX_ROWS", 5)
    for op, read in reads.items():
        (rec,) = records(lambda: read(t))
        assert rec.getMessage() == f"{op} {t.path}: distributed path (10 rows above 5)"
