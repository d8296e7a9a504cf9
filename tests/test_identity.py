"""GENERATED ALWAYS AS IDENTITY columns: engine-assigned, unique and
ascending across commits (gaps allowed — the Delta contract), high-water
mark in state/checkpoints, races surface instead of duplicating, and
writers that cannot assign refuse."""
from __future__ import annotations

import pytest

from wopen_spark.snapshot_table import SnapshotTable
from wopen_spark.sql_dml import execute_sql


def _mk_identity(spark, path, start=1, step=1):
    t = SnapshotTable(spark, str(path))
    t.create(spark.createDataFrame([], "id long, name string"))
    t.set_identity_column("id", start=start, step=step)
    return t


def test_identity_assigns_unique_ascending(spark, tmp_path):
    t = _mk_identity(spark, tmp_path / "t")
    t.append(spark.createDataFrame([("a",), ("b",), ("c",)], "name string"))
    first = {r.name: r.id for r in t.read().collect()}
    assert len(set(first.values())) == 3
    assert min(first.values()) >= 1
    t.append(spark.createDataFrame([("d",), ("e",)], "name string"))
    rows = {r.name: r.id for r in t.read().collect()}
    assert len(set(rows.values())) == 5, "ids unique across commits"
    assert min(rows[n] for n in "de") > max(first.values()), (
        "later commits allocate above earlier ones"
    )


def test_identity_start_step_and_supplied_refused(spark, tmp_path):
    t = _mk_identity(spark, tmp_path / "t", start=100, step=10)
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    ids = sorted(r.id for r in t.read().collect())
    assert ids[0] >= 100
    assert all((i - 90) % 10 == 0 for i in ids), "ids on the step lattice"
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([(1, "x")], "id long, name string"))


def test_identity_declare_refusals(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, name string"))
    with pytest.raises(ValueError, match="empty"):
        t.set_identity_column("id")
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.create(spark.createDataFrame([], "id int, name string"))
    with pytest.raises(ValueError, match="BIGINT"):
        t2.set_identity_column("id")
    t3 = _mk_identity(spark, tmp_path / "t3")
    with pytest.raises(ValueError, match="already"):
        t3.set_identity_column("id")
    with pytest.raises(NotImplementedError):
        t3.overwrite(spark.createDataFrame([], "id long, name string"))


def test_identity_survives_checkpoint_and_travel(spark, tmp_path):
    from wopen_spark.snapshot_table import CHECKPOINT_EVERY

    t = _mk_identity(spark, tmp_path / "t")
    for i in range(CHECKPOINT_EVERY + 1):
        t.append(spark.createDataFrame([(f"r{i}",)], "name string"))
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    before = {r.id for r in t2.read().collect()}
    t2.append(spark.createDataFrame([("last",)], "name string"))
    after = {r.id for r in t2.read().collect()}
    assert len(after) == len(before) + 1, "fresh handle continued, no reuse"
    assert max(after) > max(before)


def test_sql_identity_lifecycle(spark, tmp_path):
    from wopen_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    execute_sql(
        spark,
        "CREATE TABLE crm.seq (id BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 1000 INCREMENT BY 2), name STRING)",
        catalog=cat,
    )
    execute_sql(
        spark, "INSERT INTO crm.seq (name) VALUES ('a')", catalog=cat
    )
    execute_sql(
        spark, "INSERT INTO crm.seq (name) VALUES ('b')", catalog=cat
    )
    rows = sorted(
        (r.id, r.name)
        for r in cat.handle(spark, "crm.seq").read().collect()
    )
    assert [n for _, n in rows] == ["a", "b"]
    assert rows[0][0] >= 1000 and rows[1][0] > rows[0][0]
    assert all((i - 1000) % 2 == 0 for i, _ in rows)
    # dv update/delete leave identity values untouched
    execute_sql(
        spark, "DELETE FROM crm.seq WHERE name = 'a'", catalog=cat
    )
    assert [r.name for r in cat.handle(spark, "crm.seq").read().collect()] == ["b"]


def test_identity_copy_into_assigns(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    inbox = tmp_path / "inbox"
    os.makedirs(inbox)
    pq.write_table(pa.table({"name": ["x", "y"]}), str(inbox / "a.parquet"))
    t = _mk_identity(spark, tmp_path / "t")
    t.copy_into(str(inbox))
    ids = [r.id for r in t.read().collect()]
    assert len(set(ids)) == 2 and all(i >= 1 for i in ids)


def test_describe_shows_identity(spark, tmp_path):
    t = _mk_identity(spark, tmp_path / "t", start=5, step=2)
    rows = execute_sql(spark, "DESCRIBE t", tables={"t": t}).collect()
    by = {r.col_name: r.extra for r in rows}
    assert by["id"] == "identity(start=5, step=2)"
    assert by["name"] == ""


def test_identity_merge_into_assigns_inserts(spark, tmp_path):
    """MERGE on an identity table: inserted rows get engine-assigned
    ids above the high-water mark; updated rows keep theirs; assigning
    the identity column (SET or INSERT) refuses."""
    from wopen_spark.sql_dml import execute_sql

    t = _mk_identity(spark, tmp_path / "t")
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    before = {r.name: r.id for r in t.read().collect()}

    src = spark.createDataFrame(
        [("a", "A"), ("c", "C")], "name string, label string"
    )
    src.createOrReplaceTempView("ident_mrg_src")
    # rename path: update a's name, insert c — explicit-column insert
    execute_sql(
        spark,
        """
        MERGE INTO t USING ident_mrg_src s ON t.name = s.name
        WHEN MATCHED THEN UPDATE SET name = s.label
        WHEN NOT MATCHED THEN INSERT (name) VALUES (s.label)
        """,
        tables={"t": t},
    )
    rows = {r.name: r.id for r in t.read().collect()}
    assert set(rows) == {"A", "b", "C"}
    assert rows["A"] == before["a"], "updated row keeps its id"
    assert rows["b"] == before["b"]
    assert rows["C"] > max(before.values()), "insert allocates above high"
    # a further append continues above the merge's allocation
    t.append(spark.createDataFrame([("d",)], "name string"))
    ids = [r.id for r in t.read().collect()]
    assert len(set(ids)) == 4

    with pytest.raises(ValueError, match="IDENTITY"):
        execute_sql(
            spark,
            "MERGE INTO t USING ident_mrg_src s ON t.name = s.name "
            "WHEN MATCHED THEN UPDATE SET id = 99",
            tables={"t": t},
        )


def test_identity_merge_dv_mode_and_insert_star_refusal(spark, tmp_path):
    t = _mk_identity(spark, tmp_path / "t")
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    high = max(r.id for r in t.read().collect())
    src = spark.createDataFrame([("b",), ("z",)], "name string")
    from wopen_spark.sql_dml import execute_sql

    src.createOrReplaceTempView("ident_dv_src")
    execute_sql(
        spark,
        """
        MERGE INTO t USING ident_dv_src s ON t.name = s.name
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (name) VALUES (s.name)
        """,
        tables={"t": t},
        mode="dv",
    )
    rows = {r.name: r.id for r in t.read().collect()}
    assert set(rows) == {"a", "z"} and rows["z"] > high
    # INSERT * with the identity column in the source refuses
    bad = spark.createDataFrame([(1, "q")], "id long, name string")
    bad.createOrReplaceTempView("ident_bad_src")
    with pytest.raises(ValueError, match="INSERT \\*"):
        execute_sql(
            spark,
            "MERGE INTO t USING ident_bad_src s ON t.name = s.name "
            "WHEN NOT MATCHED THEN INSERT *",
            tables={"t": t},
        )
