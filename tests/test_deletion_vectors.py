"""Merge-on-read deletion vectors: delete_where(mode="dv") commits a
(file, row-index) mask instead of rewriting data files — the only
delete shape that scales when files are GBs and deletes are rows. The
assertions that matter: NO data file bytes change on a dv delete,
masked rows never resurrect through merge/compact/zorder rewrites,
time travel sees pre-mask rows, CDF emits exactly the masked rows, and
vacuum retires mask parquets with the versions that referenced them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import upsert
from wopen_spark.snapshot_table import SnapshotTable, VacuumedVersionError


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


def _make(spark, tmp_path, n=10, files=2):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(files)
    t.create(df, cluster_by=["id"])
    return t


def test_dv_delete_masks_rows_without_rewriting_files(spark, tmp_path):
    t = _make(spark, tmp_path)
    before = _data_files(t)
    report = t.delete_where("id % 3 = 0", mode="dv")
    assert report["files_rewritten"] == 0
    assert report["rows_masked"] == 4  # 0, 3, 6, 9
    assert report["files_masked"] >= 1
    # every pre-delete data file is byte-identical — the whole point
    after = _data_files(t)
    assert all(after[k] == v for k, v in before.items())
    assert _rows(t.read()) == [(i, 2 * i) for i in range(10) if i % 3]
    # time travel: the pre-mask snapshot still reads in full
    assert len(_rows(t.read(version=report["version"] - 1))) == 10
    hist = t.history()[-1]
    assert hist["operation"] == "delete"
    assert hist["n_removed"] == 0 and hist["n_rows_dv_masked"] == 4


def test_dv_deletes_stack_and_never_rematch_masked_rows(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("id < 4", mode="dv")
    # overlapping predicate: rows 0-3 are already masked, so this mask
    # must cover exactly 4 and 5 (dv scans are themselves dv-applied)
    r2 = t.delete_where("id < 6", mode="dv")
    assert r2["rows_masked"] == 2
    assert _rows(t.read()) == [(i, 2 * i) for i in range(6, 10)]


def test_dv_masked_rows_do_not_resurrect_through_merge(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("id = 2", mode="dv")
    # upsert a key in the SAME file as the masked row: the file is
    # rewritten and the masked row must not come back
    up = spark.createDataFrame([(1, 111)], "id long, v long")
    upsert(t, up, "id")
    got = dict(_rows(t.read()))
    assert 2 not in got and got[1] == 111
    # a merge touching only masked rows' keys must not resurrect either
    up2 = spark.createDataFrame([(2, 222)], "id long, v long")
    upsert(t, up2, "id")
    assert dict(_rows(t.read()))[2] == 222  # re-inserted BY the merge


def test_compact_materializes_dvs_and_vacuum_retires_them(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("id >= 8", mode="dv")
    live = _rows(t.read())
    state = t._state()
    assert state["dvs"], "mask should be live before compaction"
    t.compact(target_files=1)
    assert _rows(t.read()) == live
    assert not t._state()["dvs"], "compaction must retire the masks"
    # vacuum to the latest version: original data files AND the dv
    # parquets are gone; the masked version now raises
    removed = t.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert removed >= 3  # >=2 data files + >=1 dv parquet
    with pytest.raises(VacuumedVersionError):
        t.read(version=2).collect()
    assert _rows(t.read()) == live


def test_vacuum_keeps_dv_parquets_of_retained_versions(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("id = 0", mode="dv")
    # latest version NEEDS its dv parquet — vacuum must not touch it
    assert t.vacuum(retain_last=1, orphan_grace_s=0.0) == 0
    assert _rows(t.read())[0] == (1, 2)


def test_dv_cdf_emits_exactly_the_masked_rows(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.latest_version()
    t.delete_where("id in (1, 5)", mode="dv")
    changes = _rows(
        t.read_changes(v0).select("id", "v", "_change_type")
    )
    assert changes == [(1, 2, "delete"), (5, 10, "delete")]


def test_cdf_remove_of_masked_file_emits_only_live_rows(spark, tmp_path):
    # mask a row, then compact: CDF for the compaction window must not
    # re-emit the masked row (compact is dataChange=False and emits
    # nothing), and a cow delete after it sees only live rows
    t = _make(spark, tmp_path)
    t.delete_where("id = 7", mode="dv")
    v = t.latest_version()
    t.delete_where("id = 6", mode="cow")  # rewrites 6's file (7 masked)
    changes = _rows(t.read_changes(v).filter("_change_type = 'delete'").select("id"))
    assert (7,) not in changes, "already-masked row re-emitted as delete"
    assert (6,) in changes


def test_dv_survives_checkpoint_replay(spark, tmp_path):
    from wopen_spark.snapshot_table import CHECKPOINT_EVERY

    t = _make(spark, tmp_path, n=6, files=1)
    t.delete_where("id = 0", mode="dv")
    # push past a checkpoint so state resolves from the rollup
    for i in range(CHECKPOINT_EVERY):
        t.append(spark.createDataFrame([(100 + i, 0)], "id long, v long"))
    assert t.latest_version() >= CHECKPOINT_EVERY
    got = [r[0] for r in _rows(t.read())]
    assert 0 not in got and 1 in got and 100 in got


def test_reserved_dv_columns_rejected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    bad = spark.range(3).withColumnRenamed("id", "__sn_dv_row")
    with pytest.raises(ValueError, match="reserved"):
        t.create(bad)


def test_dv_delete_matching_nothing_commits_cleanly(spark, tmp_path):
    t = _make(spark, tmp_path, n=4, files=1)
    report = t.delete_where("id > 100", mode="dv")
    assert report["rows_masked"] == 0 and report["files_masked"] == 0
    assert len(_rows(t.read())) == 4
    assert t.latest_version() == report["version"]


def test_dv_merge_masks_and_appends_without_rewrites(spark, tmp_path):
    t = _make(spark, tmp_path)
    before = _data_files(t)
    up = spark.createDataFrame([(1, 111), (42, 4242)], "id long, v long")
    report = upsert(t, up, "id", mode="dv")
    assert report["files_rewritten"] == 0
    assert report["rows_claimed"] == 1  # only id=1 existed
    after = _data_files(t)
    assert all(after[k] == v for k, v in before.items()), "dv merge rewrote a file"
    got = dict(_rows(t.read()))
    assert got[1] == 111 and got[42] == 4242 and got[2] == 4
    assert len(got) == 11


def test_dv_merge_cdf_emits_delete_old_insert_new(spark, tmp_path):
    t = _make(spark, tmp_path)
    v = t.latest_version()
    upsert(t, spark.createDataFrame([(3, 333)], "id long, v long"), "id", mode="dv")
    changes = _rows(t.read_changes(v).select("id", "v", "_change_type"))
    assert (3, 6, "delete") in changes and (3, 333, "insert") in changes


def test_update_where_cow_and_dv_agree(spark, tmp_path):
    for mode in ("cow", "dv"):
        t = _make(spark, tmp_path / mode)
        report = t.update_where("id >= 7", {"v": "v + 1000"}, mode=mode)
        assert report["files_rewritten"] == (0 if mode == "dv" else 1)
        got = dict(_rows(t.read()))
        assert got == {i: 2 * i + (1000 if i >= 7 else 0) for i in range(10)}, mode
        # time travel to the pre-update snapshot
        pre = dict(_rows(t.read(version=report["version"] - 1)))
        assert pre == {i: 2 * i for i in range(10)}, mode


def test_update_assignments_see_the_old_row(spark, tmp_path):
    # swap semantics: SET v = id, id = v must read BOTH from the old row
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"))
    t.update_where("id = 1", {"id": "v", "v": "id"}, mode="dv")
    assert _rows(t.read()) == [(2, 20), (10, 1)]
    t.update_where("id = 2", {"id": "v", "v": "id"}, mode="cow")
    assert _rows(t.read()) == [(10, 1), (20, 2)]


def test_update_unknown_column_and_bad_mode_raise(spark, tmp_path):
    t = _make(spark, tmp_path, n=3, files=1)
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where("id = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="mode"):
        t.update_where("id = 1", {"v": "1"}, mode="zap")
    with pytest.raises(ValueError, match="mode"):
        upsert(t, spark.range(1).selectExpr("id", "id as v"), "id", mode="zap")


def test_dv_update_then_compact_then_vacuum_roundtrip(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.update_where("id < 3", {"v": "-1"}, mode="dv")
    live = _rows(t.read())
    t.compact(target_files=1)
    assert _rows(t.read()) == live
    t.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert _rows(t.read()) == live
    assert [r[1] for r in live[:3]] == [-1, -1, -1]


def test_optimize_small_files_packs_smalls_and_purges_masks(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    # one "big" file (500 rows) + two small ones (5 rows each)
    t.create(spark.range(500).selectExpr("id", "id*2 as v").coalesce(1))
    t.append(spark.createDataFrame([(1000 + i, 0) for i in range(5)], "id long, v long").coalesce(1))
    t.append(spark.createDataFrame([(2000 + i, 0) for i in range(5)], "id long, v long").coalesce(1))
    state = t._state()
    big = max(state["files"], key=lambda r: state["files"][r]["bytes"])
    big_bytes = state["files"][big]["bytes"]
    before = _data_files(t)
    live = _rows(t.read())
    report = t.optimize_small_files(max_file_bytes=big_bytes)  # big excluded
    assert not report["noop"] and report["files_selected"] == 2
    assert report["files_after"] == 2  # big + one packed file
    assert _data_files(t)[big] == before[big], "big file must stay untouched bytes"
    assert _rows(t.read()) == live
    # now mask a row IN the big file: it qualifies despite its size and
    # the rewrite purges the mask
    t.delete_where("id = 7", mode="dv")
    report2 = t.optimize_small_files(max_file_bytes=1)  # nothing is "small"
    assert report2["files_masked_purged"] == 1
    assert not t._state()["dvs"]
    assert dict(_rows(t.read())).get(7) is None


def test_optimize_small_files_noop_commits_nothing(spark, tmp_path):
    t = _make(spark, tmp_path, n=100, files=1)
    v = t.latest_version()
    report = t.optimize_small_files(max_file_bytes=1)  # nothing qualifies
    assert report["noop"] and t.latest_version() == v
