"""Every query call reads its own inputs: no process-global memo may serve
a result for data rewritten under the same path in the same process.

Each rewrite test runs a query on a tmp copy of the smoke corpus,
rewrites one input file in place, reruns, and checks the new answer.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture
def sf_copy(tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, d)
    return str(d)


def test_brand_guard_sees_rewritten_part(spark, sf_copy):
    """The <=64-brand guard counts the CURRENT part table: a stale 25
    would let shiftleft(1L, bit) wrap and corrupt counts silently."""
    from wopen_spark.queries import QUERIES

    assert QUERIES["brand_cooccurrence"](spark, sf_copy).collect()
    path = os.path.join(sf_copy, "part.parquet")
    part = pq.read_table(path)
    brands = pa.array([f"Brand#{i % 65}" for i in range(part.num_rows)])
    part = part.set_column(part.schema.get_field_index("p_brand"), "p_brand", brands)
    pq.write_table(part, path)
    with pytest.raises(ValueError, match="found 65"):
        QUERIES["brand_cooccurrence"](spark, sf_copy)


def test_near_dup_components_sees_rewritten_documents(spark, sf_copy):
    """Connected components over a rewritten corpus returns the labels
    of the new documents, equal to the DuckDB oracle on the new file."""
    import duckdb

    from wopen_spark.queries import ORACLES, QUERIES

    def labels():
        return sorted(
            map(tuple, QUERIES["near_dup_components"](spark, sf_copy).collect())
        )

    before = labels()
    path = os.path.join(sf_copy, "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, 250), path)
    # The LSH candidate pairs stay persisted in Spark's CacheManager,
    # which matches plans by path; refreshByPath is Spark's hook for a
    # file rewritten outside Spark and drops those entries.
    spark.catalog.refreshByPath(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    oracle = con.execute(ORACLES["near_dup_components"]).fetchall()
    expected = sorted(map(tuple, oracle))
    assert len(expected) != len(before)
    assert labels() == expected


def test_event_stream_sees_source_relaid_as_table_dir(spark, sf_copy, tmp_path):
    """events.parquet changes from a single file to a Spark table
    directory between two calls: the second call must stream the new
    directory's rows, not glob the old single-file name and read zero."""
    from wopen_spark.queries.registry import _t
    from wopen_spark.streaming.pipeline import available_now_aggregate

    def total(name):
        out = available_now_aggregate(
            spark, sf_copy, str(tmp_path / f"ckpt_{name}"), query_name=name
        )
        return out.agg(F.sum("n")).collect()[0][0] or 0

    path = os.path.join(sf_copy, "events.parquet")
    assert total("fresh_events_file") == pq.read_metadata(path).num_rows
    _t(spark, SF_SMOKE, "events").limit(600).write.parquet(
        str(tmp_path / "events_dir")
    )
    os.remove(path)
    shutil.move(str(tmp_path / "events_dir"), path)
    assert total("fresh_events_dir") == 600


def _module_cache_dicts() -> set[str]:
    """``module:name`` of every module-level ``*_CACHE`` bound to a dict
    in wopen_spark/."""
    root = pathlib.Path(__file__).resolve().parent.parent / "wopen_spark"
    found = set()
    for src in root.rglob("*.py"):
        for node in ast.parse(src.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", getattr(value.func, "attr", ""))
                in ("dict", "defaultdict", "OrderedDict")
            )
            for t in targets:
                if is_dict and isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                    found.add(f"{src.relative_to(root)}:{t.id}")
    return found


def test_only_handle_pools_are_module_caches():
    """The two datasource pools hold handles and clients, not data; any
    other module-level cache dict would be a data memo with no validity
    check."""
    assert _module_cache_dicts() == {
        "datasource.py:_STORE_CACHE",
        "datasource.py:_DRIVER_TABLE_CACHE",
    }


def test_pooled_table_handle_sees_other_handles_commit(spark, tmp_path):
    """The pooled driver handle replays the log on every read, so a
    commit made through a separate SnapshotTable handle is visible in
    the next wopen_snapshot read of the same process."""
    from wopen_spark.datasource import register_snapshot_datasource
    from wopen_spark.snapshot_table import SnapshotTable

    register_snapshot_datasource(spark)
    root = str(tmp_path / "t")
    SnapshotTable(spark, root).create(spark.range(0, 10).coalesce(1))

    def read_ids():
        rows = spark.read.format("wopen_snapshot").load(root).collect()
        return sorted(r.id for r in rows)

    assert read_ids() == list(range(10))
    SnapshotTable(spark, root).append(spark.range(10, 15).coalesce(1))
    assert read_ids() == list(range(15))
