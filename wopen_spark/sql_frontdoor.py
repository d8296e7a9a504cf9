"""SQL front-door: the operator library reachable from pure SQL.

The reference ships ``sql/*.sql`` entry points run by BigQuery
(/root/reference/sql/get_custom_search_data.sql et al.); the engine's
equivalent is ``spark.sql`` over registered views. ``register_frontdoor``
registers every testdata table PLUS operator-derived views (exact-dedup
fingerprints, LSH candidate pairs), so a SQL-only user can run dedup and
near-dup analyses without touching the DataFrame API.

The operator views are lazy logical plans, not materialized snapshots:
a SQL query over them composes into ONE Catalyst plan — filters written
in SQL push down through the view into the parquet scans, and the views'
internal exchanges participate in reuse like any DataFrame pipeline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wopen_spark.tables import load_testdata

def register_frontdoor(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register base tables + operator views; returns the view names.

    The operator views reachable from pure SQL span exact dedup
    (``doc_fingerprints``), near-dup candidates
    (``lsh_candidate_pairs``) and SIMILARITY (``fuzzy_type_brand_top1``
    — the reference's J8 fuzzy top-1 join as a relation). GRAPH
    clustering is not registered here: building a connected-components
    frame runs Spark jobs (the bounded edge fetch, or the distributed
    loop's per-round witness), which the queries that never read the
    view would pay on every call. ``sql_near_dup_components``
    registers its own ``near_dup_components`` view instead."""
    from wopen_spark.functions.text import doc_fingerprint
    from wopen_spark.operators.dedup import minhash_lsh_candidates
    from wopen_spark.operators.similarity import fuzzy_top1_join
    from wopen_spark.queries.dedup import _lsh_reps
    from wopen_spark.queries.registry import _spread, _t

    load_testdata(spark, sf_dir)
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    d.select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fingerprint")
    ).createOrReplaceTempView("doc_fingerprints")
    minhash_lsh_candidates(
        _lsh_reps(spark, sf_dir), id_col="doc_id", text_col="text",
        n_hashes=8, n_bands=4,
    ).createOrReplaceTempView("lsh_candidate_pairs")
    p = _t(spark, sf_dir, "part")
    fuzzy_top1_join(
        p.select("p_type").distinct(), p.select("p_brand").distinct(),
        "p_type", "p_brand",
    ).select("p_type", "p_brand", "similarity").createOrReplaceTempView(
        "fuzzy_type_brand_top1"
    )
    return [
        "doc_fingerprints",
        "lsh_candidate_pairs",
        "fuzzy_type_brand_top1",
    ]


def register_snapshot_view(
    spark: SparkSession, table, name: str, version: int | None = None,
    asof_ts: float | None = None,
) -> str:
    """Expose a SnapshotTable — at head or any historical version — as a
    SQL view: the ``VERSION AS OF`` front-door. The view pins the file
    list at registration (snapshot isolation), so SQL over it is stable
    under concurrent commits; register again to follow the head."""
    table.read(version=version, asof_ts=asof_ts).createOrReplaceTempView(name)
    return name


def register_catalog_views(
    spark: SparkSession, catalog, names: list[str] | None = None
) -> dict[str, str]:
    """Expose every (or the named subset of) catalog-registered table as
    a SQL view in one call — the by-name complement of
    :func:`register_snapshot_view`. Dots in registered names become
    ``__`` in the view name (Spark temp views are single-level):
    ``crm.events`` -> ``crm__events``. Returns {registered name: view
    name}. Views pin the head snapshot at registration; call again to
    follow new commits."""
    out: dict[str, str] = {}
    for name in names if names is not None else catalog.tables():
        view = name.replace(".", "__")
        register_snapshot_view(spark, catalog.handle(spark, name), view)
        out[name] = view
    return out
