"""Every query call reads its own inputs: no process-global memo and no
Spark cache entry may serve a result for data rewritten under the same
path in the same process.

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


def _cut_documents(sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, 250), path)


def _reverse_part_brands(sf_dir):
    """Same 25 brands (under the <=64 guard), reassigned to other parts."""
    path = os.path.join(sf_dir, "part.parquet")
    part = pq.read_table(path)
    i = part.schema.get_field_index("p_brand")
    brands = pa.array(part.column(i).to_pylist()[::-1])
    pq.write_table(part.set_column(i, "p_brand", brands), path)


def _halve_lineitem(sf_dir):
    path = os.path.join(sf_dir, "lineitem.parquet")
    li = pq.read_table(path)
    pq.write_table(li.slice(0, li.num_rows // 2), path)


_REWRITES = [
    ("near_dup_components", _cut_documents),
    ("brand_cooccurrence", _reverse_part_brands),
    ("new_trade_edges_per_week", _halve_lineitem),
    ("pagerank_customer_supplier", _halve_lineitem),
]


def _oracle_rows(sf_dir, name):
    import duckdb

    from tests.test_queries_oracle import _normalize
    from wopen_spark.queries import ORACLES
    from wopen_spark.tables import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return _normalize(con.execute(ORACLES[name]).df())


def _spark_rows(spark, sf_dir, name):
    from tests.test_queries_oracle import _normalize
    from wopen_spark.queries import QUERIES

    return _normalize(QUERIES[name](spark, sf_dir).toPandas())


@pytest.mark.parametrize("name,rewrite", _REWRITES, ids=[n for n, _ in _REWRITES])
def test_query_sees_rewritten_input(spark, sf_copy, name, rewrite):
    """A query run before and after one of its input files is rewritten
    outside Spark (pyarrow) returns the DuckDB oracle's answer on the new
    file: nothing from the first call may serve the second."""
    before = _spark_rows(spark, sf_copy, name)
    rewrite(sf_copy)
    expected = _oracle_rows(sf_copy, name)
    assert expected != before
    assert _spark_rows(spark, sf_copy, name) == expected


@pytest.mark.parametrize(
    "name,driver_edges_max",
    [(n, None) for n, _ in _REWRITES] + [("near_dup_components", 0)],
    ids=[n for n, _ in _REWRITES] + ["near_dup_components-loop"],
)
def test_no_cache_entry_outlives_query(spark, monkeypatch, name, driver_edges_max):
    """Spark's CacheManager matches cached plans by path, so an entry
    left behind by one query would serve the next query's read of the
    same files, rewritten or not. A zero driver bound forces
    connected_components onto its distributed loop path."""
    from wopen_spark.operators import graph
    from wopen_spark.queries import QUERIES

    if driver_edges_max is not None:
        monkeypatch.setattr(graph, "_DRIVER_EDGES_MAX_ROWS", driver_edges_max)
    spark.catalog.clearCache()
    assert QUERIES[name](spark, SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


def _persisting_functions_without_unpersist() -> set[str]:
    """``module:function`` of every function in wopen_spark/ that calls
    ``.persist(`` or ``.cache(`` but never ``.unpersist(``."""
    root = pathlib.Path(__file__).resolve().parent.parent / "wopen_spark"
    found = set()
    for src in root.rglob("*.py"):
        for fn in ast.walk(ast.parse(src.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            called = {
                node.func.attr
                for node in ast.walk(fn)
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            }
            if called & {"persist", "cache"} and "unpersist" not in called:
                found.add(f"{src.relative_to(root)}:{fn.name}")
    return found


def test_every_persist_is_released_in_its_function():
    """A persisted frame is released by the function that persisted it,
    so no cache entry outlives the call that made it."""
    assert _persisting_functions_without_unpersist() == set()


def _unreferenced_private_functions() -> set[str]:
    """``module:name`` of every ``_``-prefixed (non-dunder) function or
    method defined in wopen_spark/ whose name nothing in the program,
    its tests or its tools refers to: no name, attribute, import or
    exact string (``getattr`` / ``monkeypatch.setattr``) use."""
    repo = pathlib.Path(__file__).resolve().parent.parent
    root = repo / "wopen_spark"
    sources = [
        *root.rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
        *(repo / "tools").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    defined, used = set(), set()
    for src in sources:
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.update(filter(None, (node.name.rsplit(".", 1)[-1], node.asname)))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                used.add(node.value)
            elif (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and src.is_relative_to(root)
                and node.name.startswith("_")
                and not node.name.endswith("__")
            ):
                defined.add((node.name, f"{src.relative_to(root)}:{node.name}"))
    return {where for name, where in defined if name not in used}


def test_every_private_function_is_referenced():
    """A private helper nothing calls is dead code: delete it rather
    than keep it in step with the code around it."""
    assert _unreferenced_private_functions() == set()


def _commit_protocol_sites() -> tuple[set[str], set[str]]:
    """``module:qualified.function`` of every function in wopen_spark/
    that catches ``CommitConflictError``, and of every function that
    calls ``put_if_absent``."""
    root = pathlib.Path(__file__).resolve().parent.parent / "wopen_spark"
    catches, puts = set(), set()

    def names(node) -> set[str]:
        return {
            getattr(n, "id", getattr(n, "attr", None))
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    def visit(node, where: str, qual: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{qual}.{child.name}" if qual else child.name
                visit(child, where, inner)
                continue
            if (
                isinstance(child, ast.ExceptHandler)
                and child.type is not None
                and "CommitConflictError" in names(child.type)
            ):
                catches.add(f"{where}:{qual}")
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "put_if_absent"
            ):
                puts.add(f"{where}:{qual}")
            visit(child, where, qual)

    for src in root.rglob("*.py"):
        visit(ast.parse(src.read_text()), str(src.relative_to(root)), "")
    return catches, puts


def test_every_commit_goes_through_the_funnel():
    """One publish and one retry loop per log: only the table's commit
    funnel and the catalog's registry commit touch ``put_if_absent``,
    and no other code catches a lost race to retry it."""
    import inspect

    from wopen_spark.snapshot_table import SnapshotTable

    funnels = {"snapshot_table.py:SnapshotTable._commit", "catalog.py:Catalog._commit"}
    catches, puts = _commit_protocol_sites()
    assert catches <= funnels
    assert puts == funnels
    params = inspect.signature(SnapshotTable.append).parameters
    assert not {"max_retries", "extra_commit"} & set(params)


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
