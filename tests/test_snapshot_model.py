"""Model-based check of SnapshotTable: a random but SEEDED sequence of
append / merge / delete / rename / widen / compact / zorder ops runs
against both the table and a plain in-memory dict model; after every op
the table must read back exactly the model (and version history must
replay to each recorded model state). This is the test shape that
catches protocol interactions no single-feature test covers —
rename-then-merge-on-renamed-key, widen-then-compact, delete after
zorder, etc.
"""

from __future__ import annotations

import random

import pytest

from tests.conftest import upsert
from wopen_spark.snapshot_table import (
    BlobDataStore,
    HadoopFsDataStore,
    InMemoryLogStore,
    S3DataStore,
    SnapshotTable,
)

N_OPS = 24


def _expected_rows(model: dict[int, tuple]) -> list[tuple]:
    return sorted(model.items())


def _read_back(table, id_col, val_col) -> list[tuple]:
    return sorted(
        (r[id_col], (r[val_col], r["x"])) for r in table.read().collect()
    )


# stores=None -> local log + local data; "inmem" -> in-memory log,
# local data; "blob" -> in-memory log AND blob data store — the fully
# rename-free, directory-free combination where any POSIX dependence
# left in the table protocol fails loudly; "hadoop" -> local log +
# HadoopFsDataStore on a file:// URI — the deployable data store
# exercised end-to-end through Spark's Hadoop FileSystem API (URI
# scans, FileStatus mtimes, ranged footer reads); "uri" -> the table
# constructed straight from a file:// URI, auto-routing BOTH planes to
# the Hadoop stores (HadoopFsLogStore rename-atomic commits +
# HadoopFsDataStore) — the zero-wiring deployment path for hdfs/abfs;
# "s3log" -> the control plane on REAL S3 semantics (boto3 against a
# moto-mocked endpoint, If-None-Match conditional PUTs) with local data
# — the deployment shape the s3a refusal message prescribes.
@pytest.mark.parametrize(
    "seed,stores",
    [
        (7, None),
        (23, "inmem"),
        (31, "blob"),
        (41, "hadoop"),
        (53, "uri"),
        (61, "s3log"),
        (71, "s3full"),
    ],
)
def test_snapshot_random_op_sequence_matches_model(
    spark, tmp_path, seed, stores, request
):
    rng = random.Random(seed)
    data_store = None
    log_store = InMemoryLogStore() if stores in ("inmem", "blob") else None
    if stores == "blob":
        data_store = BlobDataStore(str(tmp_path / "scratch"))
    elif stores == "hadoop":
        data_store = HadoopFsDataStore(spark, f"file://{tmp_path}/tbl")
    elif stores in ("s3log", "s3full"):
        moto = pytest.importorskip("moto")
        import boto3

        from wopen_spark.snapshot_table import S3ConditionalPutLogStore

        mock_ctx = moto.mock_aws()
        mock_ctx.start()
        request.addfinalizer(mock_ctx.stop)
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="wopen-model-test")
        log_store = S3ConditionalPutLogStore(
            "s3://wopen-model-test/tables/t/_log", client=client
        )
        if stores == "s3full":
            # the ALL-S3 table: conditional-PUT commits + object data
            # plane — no POSIX anywhere in the protocol path
            data_store = S3DataStore(
                "s3://wopen-model-test/tables/t",
                str(tmp_path / "scratch"),
                client=client,
            )
    path = f"file://{tmp_path}/tbl" if stores == "uri" else str(tmp_path / "tbl")
    table = SnapshotTable(
        spark, path,
        log_store=log_store,
        data_store=data_store,
    )
    # schema starts narrow on purpose: x is int and may widen to long
    val_col = "v"
    model: dict[int, tuple] = {1: ("a", 1), 2: ("b", 2)}
    table.create(
        spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in model.items()],
            "id long, v string, x int",
        ).coalesce(1),
        cluster_by=["id"],
    )
    history: list[tuple[int, list[tuple], str, bool]] = [
        (table.latest_version(), _expected_rows(model), val_col, False)
    ]
    next_id = 10
    widened = False

    for step in range(N_OPS):
        op = rng.choice(
            ["append", "append", "merge", "dvmerge", "delete", "dvdelete",
             "update", "rename", "widen", "compact", "zorder", "binpack",
             "constraint", "recluster", "restore", "generated", "multimerge"]
        )
        if op == "append":
            rows = [
                (next_id + i, f"s{step}", (next_id + i) % 97)
                for i in range(rng.randint(1, 4))
            ]
            for k, s, x in rows:
                model[k] = (s, x)
            next_id += len(rows)
            table.append(
                spark.createDataFrame(
                    [(k, s, x) for k, s, x in rows],
                    f"id long, {val_col} string, x {'long' if widened else 'int'}",
                ).coalesce(1)
            )
        elif op in ("merge", "dvmerge"):
            keys = rng.sample(sorted(model), min(2, len(model)))
            extra = next_id
            next_id += 1
            rows = [(k, f"M{step}", model[k][1]) for k in keys] + [
                (extra, f"M{step}", 0)
            ]
            for k, s, x in rows:
                model[k] = (s, x)
            upsert(
                table,
                spark.createDataFrame(
                    rows, f"id long, {val_col} string, x {'long' if widened else 'int'}"
                ),
                "id",
                mode="dv" if op == "dvmerge" else "cow",
            )
        elif op == "update":
            # UPDATE ... SET over a random id band, alternating modes —
            # updates layered over dv masks, renames, and widenings
            lo = rng.randint(0, max(next_id - 1, 1))
            mode = rng.choice(["cow", "dv"])
            for k in list(model):
                if lo <= k < lo + 5:
                    model[k] = (f"U{step}", model[k][1])
            table.update_where(
                f"id >= {lo} AND id < {lo + 5}",
                {val_col: f"'U{step}'"},
                mode=mode,
            )
        elif op == "delete":
            if len(model) > 2:
                victim = rng.choice(sorted(model))
                del model[victim]
                table.delete_where(f"id = {victim}")
        elif op == "dvdelete":
            # merge-on-read delete: same model semantics as cow delete,
            # exercised against every other op (a dv'd file may then be
            # merged, compacted, zordered, renamed across, widened over,
            # or dv'd again) — the interactions no single-feature test hits
            if len(model) > 2:
                victims = rng.sample(sorted(model), min(2, len(model) - 2))
                for k in victims:
                    del model[k]
                table.delete_where(
                    f"id in ({', '.join(str(k) for k in victims)})", mode="dv"
                )
        elif op == "rename":
            new = f"{val_col}_r{step}"
            table.rename_column(val_col, new)
            val_col = new
        elif op == "widen" and not widened:
            # a wider append evolves x: int -> long for the whole table
            big = 2**40 + step
            model[next_id] = (f"W{step}", big)
            table.append(
                spark.createDataFrame(
                    [(next_id, f"W{step}", big)],
                    f"id long, {val_col} string, x long",
                ).coalesce(1)
            )
            next_id += 1
            widened = True
        elif op == "compact":
            table.compact(target_files=2)
        elif op == "binpack":
            # every test file is tiny, so this packs the whole current
            # file set and purges any dv masks — logical rows unchanged
            table.optimize_small_files(max_file_bytes=1 << 30)
        elif op == "zorder":
            table.optimize_zorder(["id", "x"], target_files=4, bits_per_col=3)
        elif op == "restore":
            # roll back to a random recorded version: model rows, the
            # live column name, and the widen flag all revert together —
            # restore layered over renames/dv masks/widenings is the
            # interaction matrix no single-feature test covers
            v_t, rows_t, col_t, wid_t = history[
                rng.randrange(len(history))
            ]
            table.restore(v_t)
            model = dict(rows_t)
            val_col, widened = col_t, wid_t
        elif op == "recluster":
            # clustering evolution: O(metadata) layout change — future
            # writes use the new spec, old files stay put, every read
            # and time travel must be unaffected
            table.set_cluster_by(
                rng.choice([["id"], ["x", "id"], None, ["x"]])
            )
        elif op == "generated":
            # toggle ALWAYS GENERATED AS (id % 10): every write path
            # must silently compute it (its presence never changes the
            # modeled columns), and a wrong supplied value is rejected
            from wopen_spark.snapshot_table import ConstraintViolationError

            if "gen_idmod" not in table.generated_columns():
                table.add_generated_column("gen_idmod", "id % 10", "long")
            else:
                cols = [
                    f.name
                    for f in __import__(
                        "pyspark.sql.types", fromlist=["StructType"]
                    ).StructType.fromJson(table._state()["schema"]).fields
                ]
                if "gen_idmod" in cols:
                    bad = spark.createDataFrame(
                        [(next_id, "bad", 0, 99)],
                        f"id long, {val_col} string, "
                        f"x {'long' if widened else 'int'}, gen_idmod long",
                    ).coalesce(1)
                    with pytest.raises(ConstraintViolationError):
                        table.append(bad)
                table.drop_generated_column("gen_idmod")
        elif op == "multimerge":
            # multi-clause MERGE (CDC apply): the source payload's op
            # code decides matched delete vs update per row, a fresh key
            # inserts, and ~1/3 of draws add a NOT MATCHED BY SOURCE
            # delete band — layered over dv masks, renames, widenings,
            # restores; the interaction matrix merge_into's own unit
            # tests can't reach
            mm_mode = rng.choice(["cow", "dv"])
            mm_keys = rng.sample(sorted(model), min(2, len(model)))
            extra = next_id
            next_id += 1
            xt = "long" if widened else "int"
            mm_rows = [
                (k, f"X{step}", model[k][1], "D" if (j == 0 and len(model) > 3) else "U")
                for j, k in enumerate(mm_keys)
            ] + [(extra, f"X{step}", 7, "I")]
            by_src = rng.random() < 0.34
            lo = rng.randint(0, max(next_id - 1, 1))
            kw = {}
            if by_src:
                kw["not_matched_by_source"] = [
                    {"action": "delete", "cond": f"t.id >= {lo} AND t.id < {lo + 3}"}
                ]
            table.merge_into(
                spark.createDataFrame(
                    mm_rows, f"id long, {val_col} string, x {xt}, op string"
                ),
                "id",
                matched=[
                    {"action": "delete", "cond": "s.op = 'D'"},
                    {
                        "action": "update",
                        "cond": "s.op = 'U'",
                        "set": {val_col: f"s.{val_col}", "x": "s.x"},
                    },
                ],
                not_matched=[{"action": "insert", "cond": "s.op = 'I'"}],
                mode=mm_mode,
                **kw,
            )
            src_ids = {r[0] for r in mm_rows}
            for k, s, x, code in mm_rows:
                if code == "D":
                    model.pop(k, None)
                elif code == "U" and k in model:
                    model[k] = (s, x)
                elif code == "I" and k not in model:
                    model[k] = (s, x)
            if by_src:
                for k in list(model):
                    if lo <= k < lo + 3 and k not in src_ids:
                        del model[k]
        elif op == "constraint":
            # toggle a CHECK on x (never renamed in this model): adding
            # validates the whole current table; while active, a
            # violating append is rejected WHOLE (model unchanged) and a
            # rename of the constrained column is blocked; dropping
            # re-opens the gate. Rides across dv masks, widen, zorder,
            # checkpoints — the interactions no single-feature test hits.
            from wopen_spark.snapshot_table import ConstraintViolationError

            if "x_nonneg" not in table.constraints():
                table.add_constraint("x_nonneg", "x >= 0")
                with pytest.raises(ConstraintViolationError):
                    table.append(
                        spark.createDataFrame(
                            [(next_id, f"bad{step}", -1)],
                            f"id long, {val_col} string, "
                            f"x {'long' if widened else 'int'}",
                        ).coalesce(1)
                    )
                with pytest.raises(ValueError):
                    table.rename_column("x", "x_renamed")
            else:
                table.drop_constraint("x_nonneg")

        assert _read_back(table, "id", val_col) == _expected_rows(model), (
            f"divergence after step {step} ({op})"
        )
        history.append(
            (table.latest_version(), _expected_rows(model), val_col, widened)
        )

    # time travel: every recorded version still reads as its model state.
    # Column NAMES at old versions are historical; compare id + x (x may
    # read wider post-widening — compare values, not dtypes).
    for version, expected, _c, _w in history[-6:]:
        got = sorted(
            (r["id"], r["x"]) for r in table.read(version=version).collect()
        )
        assert got == sorted((k, v[1]) for k, v in expected), version

    # the STANDARD reader surface agrees with the class after the whole
    # random sequence — the datasource arm (r9), for the store shapes it
    # can express: default local roots and file:// URIs. (The s3 combos
    # here run on an in-process moto mock that executor processes cannot
    # reach; real-HTTP datasource s3 coverage lives in
    # test_datasource_remote.)
    if stores in (None, "uri"):
        from wopen_spark.datasource import register_snapshot_datasource

        register_snapshot_datasource(spark)
        via_ds = spark.read.format("wopen_snapshot").load(path)
        got_ds = sorted(
            (r["id"], (r[val_col], r["x"])) for r in via_ds.collect()
        )
        assert got_ds == _expected_rows(model), "datasource/class divergence"


def test_hadoop_store_relativize_is_scheme_and_bucket_aware(spark):
    """The ADVICE trap: urlparse().path on s3a://bucket/key drops the
    bucket, so two buckets' keys would collide. HadoopFsDataStore owns
    its own inversion — same (scheme, netloc) relativizes, anything
    else raises instead of mis-relativizing."""
    s3 = HadoopFsDataStore.__new__(HadoopFsDataStore)  # no FS handle needed
    s3.root = "s3a://bucket-a/tables/t1"
    assert s3.relativize("s3a://bucket-a/tables/t1/data/x/f.parquet") == (
        "data/x/f.parquet"
    )
    with pytest.raises(ValueError):
        s3.relativize("s3a://bucket-b/tables/t1/data/x/f.parquet")
    with pytest.raises(ValueError):
        s3.relativize("gs://bucket-a/tables/t1/data/x/f.parquet")
    with pytest.raises(ValueError):
        s3.relativize("s3a://bucket-a/other/data/x/f.parquet")

    local = HadoopFsDataStore.__new__(HadoopFsDataStore)
    local.root = "file:///tmp/tbl"
    # Hadoop renders file URIs as file:/p, Spark input_file_name as
    # file:///p — both must invert
    assert local.relativize("file:/tmp/tbl/data/a/f.parquet") == "data/a/f.parquet"
    assert local.relativize("file:///tmp/tbl/data/a/f.parquet") == "data/a/f.parquet"
    with pytest.raises(ValueError):
        local.relativize("s3a://bucket/tmp/tbl/data/a/f.parquet")


def test_hadoop_store_missing_paths_follow_the_contract(spark, tmp_path):
    """mtime/size/open_input on a missing key must raise FileNotFoundError
    (vacuum's orphan-grace guard catches exactly that type); listings on
    a table with no data/ yet return empty, and delete of a missing key
    raises like the POSIX store."""
    store = HadoopFsDataStore(spark, f"file://{tmp_path}/t")
    with pytest.raises(FileNotFoundError):
        store.mtime("data/none/f.parquet")
    with pytest.raises(FileNotFoundError):
        store.size("data/none/f.parquet")
    with pytest.raises(FileNotFoundError):
        store.open_input("data/none/f.parquet")
    with pytest.raises(FileNotFoundError):
        store.delete("data/none/f.parquet")
    assert store.list_data_files() == []
    assert store.list_data_dirs() == []
    assert not store.exists("data/none")


def test_s3_paths_refuse_unsafe_default_log_store(spark):
    """The commit protocol needs rename atomicity (or conditional PUT);
    plain Hadoop-FS rename on S3 is copy+delete. Constructing an s3a
    table without an explicit conditional-PUT log store must refuse
    loudly rather than run an unsafe protocol."""
    from wopen_spark.snapshot_table import SnapshotTable

    with pytest.raises(ValueError, match="conditional-PUT"):
        SnapshotTable(spark, "s3a://bucket/tables/t")
    # with an explicit (conditional-PUT-semantics) log store it wires up
    t = SnapshotTable(spark, "s3a://bucket/tables/t", log_store=InMemoryLogStore())
    assert t.latest_version() is None


def test_hadoop_log_store_commit_race_and_content_atomicity(spark, tmp_path):
    """put_if_absent must lose exactly one of two racing publishes with
    FileExistsError, never clobber, and a reader must only ever see the
    complete winning blob (rename-after-close, no partial reads)."""
    from wopen_spark.snapshot_table import HadoopFsLogStore

    store = HadoopFsLogStore(spark, f"file://{tmp_path}/_log")
    store.put_if_absent("00000001.json", b'{"writer": "a"}')
    with pytest.raises(FileExistsError):
        store.put_if_absent("00000001.json", b'{"writer": "b"}')
    assert store.read("00000001.json") == b'{"writer": "a"}'
    # advisory blobs (checkpoints) replace atomically
    store.put("cp.json", b"v1")
    store.put("cp.json", b"v2")
    assert store.read("cp.json") == b"v2"
    assert store.list() == ["00000001.json", "cp.json"]
    assert store.exists("00000001.json") and not store.exists("nope.json")
    with pytest.raises(FileNotFoundError):
        store.read("nope.json")
    # the lost race left no temp litter behind
    import os

    litter = [f for f in os.listdir(tmp_path / "_log") if f.startswith(".tmp-")]
    assert litter == []


def test_s3_log_store_conditional_put_contract():
    """The S3 control plane: If-None-Match publish loses exactly one of
    two racing writers (HTTP 412 -> FileExistsError) and the winner's
    bytes survive; read/list/exists honor the LogStore error contract;
    list stays inside the table's key prefix."""
    moto = pytest.importorskip("moto")
    import boto3

    from wopen_spark.snapshot_table import S3ConditionalPutLogStore

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="wopen-log-test")
        store = S3ConditionalPutLogStore(
            "s3a://wopen-log-test/tables/t/_log", client=client
        )
        store.put_if_absent("00000001.json", b'{"writer": "a"}')
        with pytest.raises(FileExistsError):
            store.put_if_absent("00000001.json", b'{"writer": "b"}')
        assert store.read("00000001.json") == b'{"writer": "a"}'
        store.put("cp.json", b"v1")
        store.put("cp.json", b"v2")  # advisory blobs replace atomically
        assert store.read("cp.json") == b"v2"
        # a sibling table's log must not leak into this store's listing
        client.put_object(
            Bucket="wopen-log-test", Key="tables/OTHER/_log/zzz.json", Body=b"x"
        )
        assert store.list() == ["00000001.json", "cp.json"]
        assert store.exists("00000001.json") and not store.exists("nope.json")
        with pytest.raises(FileNotFoundError):
            store.read("nope.json")


def test_s3_refusal_names_the_conditional_store(spark):
    """The s3a ValueError must tell the caller exactly which store to
    pass — the refusal is a deployment instruction, not a dead end."""
    with pytest.raises(ValueError, match="S3ConditionalPutLogStore"):
        SnapshotTable(spark, "s3a://bucket/tables/t")
