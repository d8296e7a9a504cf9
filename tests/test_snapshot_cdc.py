"""SnapshotTable change data feed + exactly-once streaming appends.

CDF contract: (from, to] commits replay as insert/delete row sets at
file granularity (a merge's rewrite = delete + insert), tagged with
the commit version — the O(changed files) incremental-consumption path.
Transactional appends: (txn_app, txn_version) makes replayed
micro-batches no-ops, the foreachBatch exactly-once pattern.
"""

from __future__ import annotations

import pytest

from tests.conftest import upsert
from wopen_spark.snapshot_table import SnapshotTable, VacuumedVersionError


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, v string").coalesce(1)


@pytest.fixture
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def test_changes_append_only(spark, table):
    table.create(_mk(spark, [(1, "a")]))
    table.append(_mk(spark, [(2, "b")]))
    table.append(_mk(spark, [(3, "c")]))
    ch = table.read_changes(1).collect()
    assert sorted((r["id"], r["_change_type"], r["_commit_version"]) for r in ch) == [
        (2, "insert", 2),
        (3, "insert", 3),
    ]
    # bounded range excludes the later commit
    ch2 = table.read_changes(1, 2).collect()
    assert [(r["id"], r["_change_type"]) for r in ch2] == [(2, "insert")]


def test_changes_merge_shows_delete_plus_insert(spark, table):
    table.create(_mk(spark, [(1, "a"), (2, "b")]))
    v0 = table.latest_version()
    upsert(table, _mk(spark, [(2, "B!")]), "id")
    ch = table.read_changes(v0).collect()
    got = sorted((r["id"], r["v"], r["_change_type"]) for r in ch)
    # the rewritten file's old rows are deletes; its new contents inserts
    assert (2, "b", "delete") in got and (2, "B!", "insert") in got
    # folding the feed by key reproduces the table delta
    inserts = {r["id"]: r["v"] for r in ch if r["_change_type"] == "insert"}
    assert inserts[2] == "B!"


def test_changes_empty_range_and_overwrite(spark, table):
    table.create(_mk(spark, [(1, "a")]))
    head = table.latest_version()
    assert table.read_changes(head).count() == 0  # nothing after head
    table.overwrite(_mk(spark, [(9, "z")]))
    ch = table.read_changes(head).collect()
    assert sorted((r["id"], r["_change_type"]) for r in ch) == [
        (1, "delete"),
        (9, "insert"),
    ]


def test_txn_append_idempotent(spark, table):
    table.create(_mk(spark, [(0, "seed")]))
    v1 = table.append(_mk(spark, [(1, "a")]), txn_app="job", txn_version=7)
    v2 = table.append(_mk(spark, [(1, "a")]), txn_app="job", txn_version=7)
    assert v2 == v1  # replay: no new commit
    assert table.read().filter("id = 1").count() == 1
    # a NEWER txn version from the same app does commit
    table.append(_mk(spark, [(2, "b")]), txn_app="job", txn_version=8)
    # an OLDER/equal version after that is still skipped
    table.append(_mk(spark, [(99, "dup")]), txn_app="job", txn_version=8)
    ids = sorted(r["id"] for r in table.read().collect())
    assert ids == [0, 1, 2]
    # a different app is independent
    table.append(_mk(spark, [(3, "c")]), txn_app="other", txn_version=7)
    assert table.read().count() == 4


def test_txn_args_must_pair(spark, table):
    table.create(_mk(spark, [(0, "seed")]))
    with pytest.raises(ValueError):
        table.append(_mk(spark, [(1, "a")]), txn_app="job")


def test_streaming_foreachbatch_exactly_once(spark, table, tmp_path):
    """3-file sequenced source, maxFilesPerTrigger=1 → >=3 micro-batches
    through table.streaming_sink; the table ends with exactly the union,
    and re-delivering a batch through the sink adds nothing."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _mk(spark, [(10 * i + j, f"f{i}") for j in range(3)]).write.mode(
            "overwrite"
        ).parquet(str(src / f"file{i}.parquet"))

    table.create(spark.createDataFrame([], "id long, v string"))
    stream = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(table.streaming_sink("ingest"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["id"] for r in table.read().collect())
    assert got == sorted([10 * i + j for i in range(3) for j in range(3)])
    n_versions = table.latest_version()
    assert n_versions >= 4  # create + >=3 micro-batch commits

    # crash/replay: the engine re-delivers an epoch it already committed
    sink = table.streaming_sink("ingest")
    sink(_mk(spark, [(0, "f0"), (1, "f0"), (2, "f0")]), 0)
    assert table.latest_version() == n_versions  # no-op
    assert table.read().count() == 9


def test_changes_skip_maintenance_rewrites(spark, table):
    """Compact/zorder change no logical rows: their commits carry
    dataChange=false and the change feed must skip them (Delta CDF
    semantics — OPTIMIZE emits no changes). Without the skip a
    maintenance pass shows the whole table as delete+insert churn."""
    table.create(_mk(spark, [(1, "a"), (2, "b")]))
    table.append(_mk(spark, [(3, "c")]))
    head = table.latest_version()
    table.compact(target_files=1)
    assert table.read_changes(head).count() == 0
    table.optimize_zorder(["id"], target_files=2, bits_per_col=2)
    assert table.read_changes(head).count() == 0
    # real changes after maintenance still flow
    table.append(_mk(spark, [(4, "d")]))
    ch = table.read_changes(head).collect()
    assert [(r["id"], r["_change_type"]) for r in ch] == [(4, "insert")]


def test_cdf_drives_incremental_aggregate(spark, table):
    """The point of a change feed: a downstream aggregate updates from
    the (from, to] delta alone — O(changed files) — and lands exactly
    where a full recompute does. Folding rule per key: +insert values,
    -delete values (a merge's rewrite contributes both)."""
    from pyspark.sql import functions as F

    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    table.create(
        spark.createDataFrame(rows, "id long, grp string, val long").coalesce(1)
    )
    v0 = table.latest_version()
    # materialize the aggregate as of v0
    agg0 = {
        r["grp"]: r["s"]
        for r in table.read(version=v0).groupBy("grp").agg(
            F.sum("val").alias("s")
        ).collect()
    }
    assert agg0 == {"a": 30, "b": 30}

    # upstream churn: upsert id 2 (a: 20 -> 25), insert id 4 (b: +5),
    # delete id 3 (b: -30), and a compact (must contribute NOTHING)
    upsert(
        table,
        spark.createDataFrame([(2, "a", 25), (4, "b", 5)], "id long, grp string, val long"),
        "id",
    )
    table.delete_where("id = 3")
    table.compact(target_files=1)

    delta = (
        table.read_changes(v0)
        .groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", F.col("val")).otherwise(
                    -F.col("val")
                )
            ).alias("d")
        )
    )
    folded = dict(agg0)
    for r in delta.collect():
        folded[r["grp"]] = folded.get(r["grp"], 0) + (r["d"] or 0)
    folded = {k: v for k, v in folded.items() if v != 0}

    full = {
        r["grp"]: r["s"]
        for r in table.read().groupBy("grp").agg(F.sum("val").alias("s")).collect()
    }
    assert folded == full == {"a": 35, "b": 5}


def test_changefeed_loader_exactly_once(spark, tmp_path):
    """ChangeFeedLoader folds each upstream commit range once: per-batch
    signed deltas reconstruct the upstream sum, a caught-up loader
    no-ops, a second loader instance (fresh process) resumes from the
    target's txn watermark instead of refolding, and a maintenance-only
    head advance commits just the watermark."""
    from pyspark.sql import functions as F

    from wopen_spark.streaming.changefeed import ChangeFeedLoader

    src = SnapshotTable(spark, str(tmp_path / "src"))
    tgt = SnapshotTable(spark, str(tmp_path / "mv"))

    def fold(ch):
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        return ch.groupBy("v").agg(
            F.sum(sign * F.col("id")).cast("long").alias("d")
        )

    loader = ChangeFeedLoader(src, tgt, app="mv/t", fold=fold)
    assert loader.run_once() is None  # source not created yet

    src.create(_mk(spark, [(1, "a"), (2, "a"), (10, "b")]))
    assert loader.run_once() == (0, 1)
    src.append(_mk(spark, [(4, "a")]))
    src.delete_where("id = 2")
    assert loader.run_until_caught_up() == [(1, 3)]
    assert loader.run_once() is None

    def mv():
        return {
            r["v"]: r["s"]
            for r in tgt.read().groupBy("v").agg(F.sum("d").alias("s")).collect()
        }

    assert mv() == {"a": 5, "b": 10}

    # fresh loader (new process): watermark lives in the TARGET's log
    loader2 = ChangeFeedLoader(src, tgt, app="mv/t", fold=fold)
    assert loader2.committed() == 3
    assert loader2.run_once() is None

    # maintenance-only advance: no changes, watermark still moves
    src.compact()
    assert loader2.run_once() == (3, 4)
    assert mv() == {"a": 5, "b": 10}
    assert loader2.committed() == 4

    # replayed batch (crash after commit, rerun): txn ledger rejects it
    v_before = tgt.latest_version()
    tgt.append(
        fold(src.read_changes(1, 3)), txn_app="mv/t", txn_version=3
    )
    assert tgt.latest_version() == v_before
    assert mv() == {"a": 5, "b": 10}


def test_streaming_sink_enforces_constraints_per_batch(spark, table):
    """The foreachBatch sink composes with CHECK constraints: a clean
    micro-batch lands with its epoch watermark, a violating one raises
    (failing the streaming query rather than committing bad rows), and
    the failed epoch can be retried with corrected data exactly once."""
    from wopen_spark.snapshot_table import ConstraintViolationError

    table.create(_mk(spark, [(1, "a")]))
    table.add_constraint("id_pos", "id > 0")
    sink = table.streaming_sink(txn_app="stream/t")
    sink(_mk(spark, [(2, "b")]), 0)          # epoch 0 lands
    with pytest.raises(ConstraintViolationError):
        sink(_mk(spark, [(-7, "bad")]), 1)   # epoch 1 rejected whole
    v = table.latest_version()
    sink(_mk(spark, [(7, "fixed")]), 1)      # corrected epoch 1 lands
    assert table.latest_version() == v + 1
    sink(_mk(spark, [(7, "replay")]), 1)     # replay: watermark no-op
    assert table.latest_version() == v + 1
    assert sorted(r["id"] for r in table.read().collect()) == [1, 2, 7]


def test_changefeed_loader_vacuum_resync(spark, tmp_path):
    """r8 verdict #3: a consumer stranded behind a vacuum must not stay
    stuck. Drive the MV, vacuum the source past the watermark, and the
    next run_once resyncs: full-snapshot fold REPLACES the target, the
    watermark jumps to the head in the same commit, the MV equals the
    full recompute, and draining twice stays a no-op."""
    from pyspark.sql import functions as F

    from wopen_spark.streaming.changefeed import ChangeFeedLoader

    src = SnapshotTable(spark, str(tmp_path / "src"))
    tgt = SnapshotTable(spark, str(tmp_path / "mv"))

    def fold(ch):
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        return ch.groupBy("v").agg(
            F.sum(sign * F.col("id")).cast("long").alias("d")
        )

    def mv():
        return {
            r["v"]: r["s"]
            for r in tgt.read()
            .groupBy("v")
            .agg(F.sum("d").cast("long").alias("s"))
            .collect()
        }

    loader = ChangeFeedLoader(src, tgt, app="mv/t", fold=fold)
    src.create(_mk(spark, [(1, "a"), (2, "a"), (10, "b")]))
    assert loader.run_once() == (0, 1)
    assert mv() == {"a": 3, "b": 10}

    # the loader falls behind: three upstream commits, then vacuum
    # keeps only the head — the (1, 4] change files are gone
    src.append(_mk(spark, [(4, "a")]))
    src.delete_where("id = 2")
    src.overwrite(_mk(spark, [(7, "a"), (20, "b"), (5, "c")]))
    src.vacuum(retain_last=1, orphan_grace_s=0)
    with pytest.raises(VacuumedVersionError):
        src.read_changes(1, 4).collect()

    assert loader.run_once() == (0, 4)  # resync, not a crash
    expected = {"a": 7, "b": 20, "c": 5}
    assert mv() == expected
    full = {
        r["v"]: r["s"]
        for r in src.read()
        .groupBy("v")
        .agg(F.sum("id").cast("long").alias("s"))
        .collect()
    }
    assert mv() == full
    assert loader.committed() == 4

    # drained: both the same loader and a fresh one no-op
    assert loader.run_once() is None
    loader2 = ChangeFeedLoader(src, tgt, app="mv/t", fold=fold)
    assert loader2.run_once() is None

    # and the feed is INCREMENTAL again after the bootstrap
    src.append(_mk(spark, [(100, "c")]))
    assert loader.run_once() == (4, 5)
    assert mv() == {"a": 7, "b": 20, "c": 105}

    # replayed resync (crash after commit, rerun): ledger rejects it
    v_before = tgt.latest_version()
    tgt.overwrite(tgt.read(), txn_app="mv/t", txn_version=4)
    assert tgt.latest_version() == v_before
