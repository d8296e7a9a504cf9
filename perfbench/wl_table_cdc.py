"""table_cdc: keyed change batches upserted into a snapshot table, then read.

One closed loop: the benchmark produces a change batch into a ``FileTopic``
(staging, untimed), ``UpsertTopicLoader.run_once`` applies it to a
``SnapshotTable`` in dv mode (the write), then a read round follows:
pruned point reads of the batch's keys (``read_where``), the change feed of
the new version (``read_changes``) and one aggregate through the
``wopen_snapshot`` datasource. ``maintain()`` runs every few batches.
"""

from __future__ import annotations

import os
import time

import gen

MAINTAIN_EVERY = 3
POINT_READS = 3
WARMUP_BATCHES = 2
VACUUM_RETAIN = 2

SCHEMA_DDL = "id long, ts long, amount double, name string, bucket int"


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        if os.path.basename(base) == "_log":
            continue
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


def run(r) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wopen_spark.datasource import register_snapshot_datasource
    from wopen_spark.snapshot_table import SnapshotTable
    from wopen_spark.streaming.topic import FileTopic, UpsertTopicLoader

    spark, tr = r.spark, r.tracer
    schema = T._parse_datatype_string(SCHEMA_DDL)
    cols = [f.name for f in schema.fields]
    log: list[str] = []
    counts = {"attempted": 0, "failed": 0}
    stage_s: list[float] = []

    def fail(msg: str) -> None:
        counts["failed"] += 1
        log.append(msg[:500])

    # --- set-up: initial table, topic, loader (timed as part of setup_s)
    t = time.perf_counter()
    stream = gen.ChangeStream(r.seed)
    table_path = os.path.join(r.run_dir, "table")
    table = SnapshotTable(spark, table_path)
    table.create(spark.createDataFrame(pd.DataFrame(stream.initial, columns=cols), schema))
    topic = FileTopic(os.path.join(r.run_dir, "topic"), partitions=1)
    loader = UpsertTopicLoader(topic, table, "perfbench", schema, key="id", order_col="ts")
    register_snapshot_datasource(spark)
    create_s = time.perf_counter() - t

    def step(i: int) -> dict:
        t = time.perf_counter()
        records = stream.batch(i)
        topic.produce(0, records)
        stage_s.append(time.perf_counter() - t)
        latest = {}
        for rec in records:
            latest[rec["id"]] = rec
        probes = sorted(latest)[:: max(1, len(latest) // POINT_READS)][:POINT_READS]
        v_prev = table.latest_version()

        t0 = time.perf_counter()
        with tr.span("streaming.upsert_loader.run_once"):
            committed = loader.run_once(spark)
        t1 = time.perf_counter()
        v = table.latest_version()
        points, reports = {}, []
        for k in probes:
            with tr.span("snapshot_table.read_where"):
                df, rep = table.read_where({"id": (k, k)})
                points[k] = df.collect()
            reports.append(rep)
        with tr.span("snapshot_table.read_changes"):
            changes = table.read_changes(v_prev, v).select("id", "_change_type").toPandas()
        with tr.span("datasource.scan"):
            agg = (
                spark.read.format("wopen_snapshot")
                .load(table_path)
                .agg(F.count("*").alias("n"), F.sum("amount").alias("amount"))
                .collect()[0]
            )
        t2 = time.perf_counter()
        maintain_s, rewritten = 0.0, None
        if i % MAINTAIN_EVERY == 0:
            before = _data_files(table_path)
            with tr.span("snapshot_table.maintain"):
                table.maintain(vacuum_retain_last=VACUUM_RETAIN)
            maintain_s = time.perf_counter() - t2
            after = _data_files(table_path)
            rewritten = sum(b for p, b in after.items() if p not in before)
        # run_once, each point read, the change feed, the scan, maintain
        counts["attempted"] += 1 + len(probes) + 2 + (rewritten is not None)

        # --- output checks (untimed)
        if not committed:
            fail(f"batch {i}: run_once committed nothing")
        for k, rows in points.items():
            want = stream.expected[k]
            got = [(x["ts"], x["amount"], x["name"], x["bucket"]) for x in rows]
            if got != [want]:
                fail(f"batch {i}: read_where id={k} saw {got}, expected {want}")
        inserted = set(changes.loc[changes["_change_type"] == "insert", "id"])
        missing = set(latest) - inserted
        if missing:
            fail(f"batch {i}: change feed lacks {len(missing)} of the batch's keys")
        want_n = len(stream.expected)
        want_sum = sum(x[1] for x in stream.expected.values())
        if agg["n"] != want_n or abs(agg["amount"] - want_sum) > 1e-6 * max(1.0, want_sum):
            fail(f"batch {i}: datasource saw n={agg['n']} sum={agg['amount']}, "
                 f"expected n={want_n} sum={want_sum}")

        if tr.enabled:
            for rep in reports:
                tr.record("snapshot_table.read_where.files_scanned", rep["files_read"])
                tr.record(
                    "snapshot_table.read_where.files_skipped",
                    rep["files_skipped_by_stats"] + rep["files_skipped_by_bloom"],
                )
            if rewritten is not None:
                tr.record("snapshot_table.maintain.bytes_rewritten", rewritten)
            new = [h for h in table.history() if h["version"] > v_prev]
            tr.record("snapshot_table.commits", len(new))
            tr.record("snapshot_table.files_added", sum(h["n_added"] for h in new))
            tr.record("snapshot_table.files_removed", sum(h["n_removed"] for h in new))
            tr.record("snapshot_table.log_bytes", _dir_bytes(os.path.join(table_path, "_log")))
        return {
            "busy_s": (t2 - t0) + maintain_s,
            "maintain_s": maintain_s,
            "write_s": t1 - t0,
            "read_s": t2 - t1,
            "rows": len(records),
        }

    warm = [step(i)["busy_s"] for i in range(1, WARMUP_BATCHES + 1)]
    log.append("warm-up batches (s): " + ", ".join(f"{w:.2f}" for w in warm))

    def e2e(recs):
        # iteration_s is the median batch makespan (write + read round);
        # rows_per_s the change records applied per second with maintain
        # amortised over its period: the median maintain time, so that
        # whether the window ends just before or after a maintain does not
        # move the figure
        batch = [x["write_s"] + x["read_s"] for x in recs]
        upkeep = [x["maintain_s"] for x in recs if x["maintain_s"]]
        busy = sum(batch) + len(recs) * r.median(upkeep) / MAINTAIN_EVERY
        return {
            "iteration_s": (r.median(batch), "s", len(recs)),
            "rows_per_s": (sum(x["rows"] for x in recs) / busy, "1/s", len(recs)),
            "maintain_s": (r.median(upkeep), "s", len(upkeep)),
            "write_s": (r.median([x["write_s"] for x in recs]), "s", len(recs)),
            "read_s": (r.median([x["read_s"] for x in recs]), "s", len(recs)),
            "setup_s": (r.session_s + create_s + r.median(stage_s), "s", len(stage_s)),
        }

    # whole maintain periods per loop: rows_per_s always sees a maintain,
    # and so does every traced half
    n = r.iterations(group=MAINTAIN_EVERY)
    out = r.measure(step, WARMUP_BATCHES + 1, e2e, n)
    log.append(
        "timed batches write/read (s): "
        + ", ".join(f"{x['write_s']:.2f}/{x['read_s']:.2f}" for x in out["records"])
    )

    # --- final state check and size (untimed)
    final = table.read().toPandas()
    got = {
        int(row.id): (int(row.ts), float(row.amount), row.name, int(row.bucket))
        for row in final.itertuples(index=False)
    }
    counts["attempted"] += 1
    if len(final) != len(got) or got != stream.expected:
        fail(f"final table differs from the expected latest-per-key state "
             f"({len(final)} rows, {len(stream.expected)} expected)")
    bytes_per_row = _dir_bytes(table_path) / len(stream.expected)
    out["end_to_end"]["bytes_per_row"] = (bytes_per_row, "B", 1)
    if "per_layer" in out:
        out["per_layer"]["snapshot_table.bytes_per_row"] = bytes_per_row
    out.update(counts)
    out["log"] = log
    return out
