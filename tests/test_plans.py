"""Plan-quality regression tests: pin the physical-plan properties that
matter at 100 TB (pushdown, pruning, broadcast choice, shuffle count) so
a code change that silently degrades the plan fails CI, not production.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE
from wopen_spark.plans import (
    exchanges,
    join_strategies,
    plan_string,
    pushed_filters,
    scan_schemas,
)


def _q(spark, name):
    from wopen_spark.queries import QUERIES

    return QUERIES[name](spark, SF_SMOKE)


def test_pricing_summary_pushes_date_filter_and_prunes(spark):
    df = _q(spark, "pricing_summary")
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters  # predicate reached the parquet scan
    (schema,) = scan_schemas(df)
    # 7 needed columns, not the full lineitem width
    assert "l_orderkey" not in schema and "l_returnflag" in schema


def test_dim_joins_broadcast(spark):
    df = _q(spark, "customers_per_region")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}
    # fact scan prunes to the two columns used
    assert any("c_nationkey" in s and "c_name" not in s for s in scan_schemas(df))


def test_anti_join_pushes_filter(spark):
    df = _q(spark, "customers_without_orders")
    assert any("o_totalprice" in f for f in pushed_filters(df))


def test_fingerprint_dedup_single_shuffle_agg(spark):
    df = _q(spark, "doc_fingerprint_dedup")
    # groupBy fingerprint + final sort; the _spread repartition is the
    # small-file parallelism spreader (a no-op on real multi-split scans)
    assert len(exchanges(df)) <= 3


def test_ivf_query_broadcasts_probe_side(spark):
    df = _q(spark, "ivf_cosine_top5")
    assert "BroadcastHashJoin" in join_strategies(df)


def test_streaming_free_queries_have_no_cartesian(spark):
    from wopen_spark.queries import QUERIES

    for name in [
        "top_revenue_orders",
        "top_supplier_per_nation",
        "minhash_lsh_candidate_pairs",
        "simhash_dedup_clusters",
    ]:
        strategies = join_strategies(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in strategies, name


@pytest.mark.parametrize(
    "name", ["fuzzy_top1_type_brand", "embedding_cosine_top10"]
)
def test_intentional_cross_joins_are_broadcast(spark, name):
    """The exact fuzzy/brute-force paths cross join by design — but the
    small side must be broadcast, never a shuffled cartesian."""
    plan_joins = join_strategies(_q(spark, name))
    assert all(
        j in ("BroadcastNestedLoopJoin", "BroadcastHashJoin") for j in plan_joins
    ), plan_joins


def test_kmeans_assignment_broadcasts_centroids(spark):
    """k-means training: every per-iteration assignment must broadcast the
    (k-row) centroid side — the corpus never shuffles for assignment; the
    only exchanges are the k x dim partial-agg mean updates."""
    plan_joins = join_strategies(_q(spark, "kmeans_centroids_2iter"))
    assert plan_joins, "expected assignment joins in the plan"
    assert all(
        j in ("BroadcastNestedLoopJoin", "BroadcastHashJoin") for j in plan_joins
    ), plan_joins


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed on the join key
    join WITHOUT a shuffle exchange — the pre-partitioning pattern for
    repeatedly-joined 100 TB facts."""
    import uuid

    from pyspark.sql import functions as F

    from wopen_spark.plans import exchanges, plan_string

    a_name = f"bk_a_{uuid.uuid4().hex[:8]}"
    b_name = f"bk_b_{uuid.uuid4().hex[:8]}"
    df = spark.range(0, 10_000).withColumn("v", F.col("id") % 7)
    for name in (a_name, b_name):
        (
            df.write.bucketBy(8, "id").sortBy("id")
            .mode("overwrite").format("parquet").saveAsTable(name)
        )
    try:
        # merge hint: at this size AQE would broadcast, which bypasses the
        # bucketing path this test pins
        joined = spark.table(a_name).hint("merge").join(spark.table(b_name), "id")
        plan = plan_string(joined)
        assert "SortMergeJoin" in plan
        # no shuffle exchange on either side: bucketing pre-partitioned both
        assert exchanges(joined) == []
        assert joined.count() == 10_000
    finally:
        for name in (a_name, b_name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_shipping_priority_pushes_both_date_filters(spark):
    """Q3 shape: each fact's date predicate must reach its own parquet
    scan, and the segment filter the customer scan."""
    df = _q(spark, "shipping_priority")
    filters = " ".join(pushed_filters(df))
    assert "o_orderdate" in filters
    assert "l_shipdate" in filters
    assert "c_mktsegment" in filters


def test_regional_volume_broadcasts_all_dims(spark):
    """Q5 shape: supplier/nation/region broadcast; only the two fact-fact
    joins (customer-orders, orders-lineitem) may shuffle."""
    df = _q(spark, "regional_supplier_volume")
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    assert "CartesianProduct" not in strategies
    # region filter lands on its scan
    assert any("r_name" in f for f in pushed_filters(df))


def test_min_price_decorrelation_single_lineitem_scan(spark):
    """The correlated MIN subquery must run as one window over one
    lineitem scan — not a self-join with a second scan."""
    from wopen_spark.plans import plan_string

    df = _q(spark, "min_price_supplier_per_part")
    plan = plan_string(df)
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"


def test_enrich_quota_has_no_single_partition_exchange(spark):
    """The quota path must not funnel the input through one task: the head
    is a distributed top-N (TakeOrderedAndProject) and the passthrough
    remainder a broadcast anti-join — never a global-window sort."""
    from wopen_spark.operators.http_enrich import EnrichConfig, http_enrich
    from wopen_spark.plans import plan_string

    df = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    out = http_enrich(
        df, "c_name", lambda: (lambda s: s), out_col="resp",
        config=EnrichConfig(quota=100), order_col="c_custkey",
    )
    plan = plan_string(out)
    assert "Exchange SinglePartition" not in plan, "quota path serialized the input"
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in join_strategies(out)  # remainder anti-join


def test_q17_decorrelation_single_lineitem_scan(spark):
    """Q17 shape: the correlated per-part average must be a window over
    one lineitem scan, and the brand dimension must broadcast — never a
    lineitem self-join."""
    from wopen_spark.plans import plan_string

    df = _q(spark, "small_quantity_part_revenue")
    plan = plan_string(df)
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"
    assert "BroadcastHashJoin" in join_strategies(df)


def test_contamination_join_broadcasts_benchmark_grams(spark):
    """Decontamination must broadcast the (tiny) benchmark gram set; the
    100 TB corpus side must never shuffle its grams for the join."""
    strategies = join_strategies(_q(spark, "benchmark_contamination"))
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies and "CartesianProduct" not in strategies


def _with_confs(spark, confs):
    """Set runtime confs, returning the previous values for restore."""
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore_confs(spark, old):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """Manual salting (salted_event_type_stats) is one skew answer; the
    runtime answer is AQE's skew-join split. Pin that a deliberately
    skewed SMJ actually activates it — the final plan must show
    SortMergeJoin(skew=true) over an AQEShuffleRead marked skewed."""
    from pyspark.sql import functions as F

    old = _with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
            # disable both compile-time and AQE runtime broadcast: the test
            # needs the join to stay sort-merge so the skew rule applies
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    try:
        # ~99.5% of left rows share key 5 (least() keeps the key
        # non-foldable — a literal key constant-folds into a cartesian);
        # the sha2 pad keeps the hot partition above the byte threshold
        # and must stay live through the agg or pruning drops it
        left = spark.range(0, 300_000, 1, 8).select(
            F.least(F.col("id") % 1000, F.lit(5)).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("k"), F.lit("r").alias("v")
        )
        agg = left.join(right, "k").select(
            F.count(F.lit(1)).alias("n"), F.max("pad").alias("m")
        )
        (row,) = agg.collect()  # AQE finalizes during execution
        assert row.n == 300_000
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE skew-join did not activate"
        assert "AQEShuffleRead skewed" in plan
    finally:
        _restore_confs(spark, old)


def test_partitioned_table_read_prunes_partitions(spark, tmp_path):
    """S5/K2 date-partitioned layout: a date_extract = X read must prune
    at the scan (PartitionFilters), never filter post-scan — the
    reference's daily-partition reads
    (sql/get_partitions_custom_search.sql:1-4) depend on this at scale."""
    from pyspark.sql import functions as F

    from wopen_spark.plans import plan_string, scan_schemas
    from wopen_spark.tables import Table

    t = Table(spark, "crm", "events_pruned", warehouse=str(tmp_path))
    for day, n in [("2026-01-01", 10), ("2026-01-02", 20), ("2026-01-03", 30)]:
        t.write_partition(day, "date_extract", spark.range(n).select("id"))

    df = t.read().filter(F.col("date_extract") == "2026-01-02")
    assert df.count() == 20
    plan = plan_string(df)
    assert "PartitionFilters" in plan and "date_extract" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], "date filter did not reach the scan as a partition filter"
    # the partition column is directory metadata: the parquet read schema
    # must not contain it (nothing but `id` is read from data files)
    (schema,) = scan_schemas(df)
    assert "date_extract" not in schema
    # and no post-scan Filter on date_extract remains
    data_filters = pushed_filters(df)
    assert all("date_extract" not in f for f in data_filters)


def _final_plan_nodes(df):
    """Every node of the AQE-final executed plan (runs the query): the
    final plan of each adaptive plan, the plan inside each query stage
    and the plan of each cached relation read. A reused exchange is a
    leaf, so what it reuses is not walked twice."""
    from wopen_spark.plans import executed_plan_string

    executed_plan_string(df)  # runs the query
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        if name.endswith("QueryStage"):
            yield from walk(node.plan())
            return
        yield node
        if name == "InMemoryTableScan":
            yield from walk(node.relation().cachedPlan())
        for child in conv.asJava(node.children()):
            yield from walk(child)

    return list(walk(df._jdf.queryExecution().executedPlan()))


def test_minhash_lsh_signatures_computed_once(spark):
    """The MinHash signature subtree runs ONCE: the band keys are grouped
    into buckets, not self-joined — a self-join that AQE turns into a
    broadcast recomputes the signatures on each arm, and no exchange
    reuse can fold them."""
    nodes = _final_plan_nodes(_q(spark, "minhash_lsh_candidate_pairs"))
    sig = [n for n in nodes if "aggregate(array_distinct(" in n.simpleString(1000)]
    assert len(sig) == 1, [n.nodeName() for n in sig]
    # and the >=3-words guard still reaches the scan as a data filter
    (scan,) = [n for n in nodes if n.nodeName().startswith("Scan parquet")]
    assert "regexp_extract_all" in scan.simpleString(1000)


def test_embedding_lsh_scoring_computed_once(spark):
    """The 48-hyperplane-scored corpus must be materialized ONCE and
    shared by all 6 arms of the 3 band self-joins. It is localCheckpointed
    (stronger than exchange reuse — the scoring job runs once, period),
    so the final plan reads only the checkpointed RDD: zero parquet
    scans, zero re-derivations of the scoring subtree."""
    from wopen_spark.plans import executed_plan_string

    plan = executed_plan_string(_q(spark, "embedding_near_dup_pairs"))
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_zero_fill_spine_join_broadcasts_daily_agg(spark):
    # The calendar spine joins the |days|-row daily aggregate: must be a
    # broadcast, never a shuffle of the aggregate output.
    df = _q(spark, "daily_purchase_zero_filled")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies
    # the purchase filter reaches the events scan
    assert any("event_type" in f for f in pushed_filters(df))


def test_bigram_count_single_agg_shuffle(spark):
    # Pairs are built in the array domain (slice + zip_with), so the plan
    # is scan -> explode -> partial agg -> one exchange -> final agg; no
    # join, no second shuffle of the token stream.
    df = _q(spark, "bigram_collocations")
    assert join_strategies(df) == []
    # exchanges: optional _spread repartition + the aggregate shuffle
    assert len(exchanges(df)) <= 2


def test_intersect_plans_as_semi_join(spark):
    # INTERSECT should compile to aggregated distinct + left-semi hash
    # join, not a cartesian or union-based rewrite.
    df = _q(spark, "clicker_purchaser_intersect")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_shapes_broadcast_dims(spark):
    """New TPC-H-shape queries: every dimension join (part, supplier,
    customer-side lookups, nation twice) must be a broadcast hash join —
    the fact side shuffles only for its own aggregate."""
    for name in [
        "promo_revenue_share",
        "disjunctive_predicate_revenue",
        "nation_trade_volume",
    ]:
        strategies = join_strategies(_q(spark, name))
        assert strategies and all(
            j == "BroadcastHashJoin" for j in strategies
        ), (name, strategies)


def test_scalar_subquery_filters_broadcast_not_collect(spark):
    """Q11/Q22 shapes: the global-aggregate threshold rides a broadcast
    nested-loop cross join (one row), never a shuffled cartesian."""
    for name in ["idle_rich_customers", "top_supplier_value_share"]:
        strategies = join_strategies(_q(spark, name))
        assert "CartesianProduct" not in strategies, (name, strategies)
        assert "BroadcastNestedLoopJoin" in strategies, (name, strategies)


def test_promo_share_pushes_date_filter(spark):
    df = _q(spark, "promo_revenue_share")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # column pruning: only the needed lineitem columns are read
    assert any(
        "l_partkey" in s and "l_returnflag" not in s for s in scan_schemas(df)
    )


def test_lexical_diversity_clone_collapsed(spark):
    """Per-doc lexical stats compute once per DISTINCT text (one distinct
    shuffle) and clones inherit via broadcast join — never a word-array
    shuffle per document, never a shuffled join back."""
    df = _q(spark, "doc_lexical_diversity")
    ex = exchanges(df)
    # distinct-text aggregate + presentation sort; the join back must be
    # broadcast, not another exchange
    assert len(ex) <= 3, ex
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SortMergeJoin" not in join_strategies(df)


def test_tfidf_broadcasts_df_and_corpus_size(spark):
    strategies = join_strategies(_q(spark, "tfidf_top_terms"))
    assert "CartesianProduct" not in strategies
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_correlation_single_shuffle(spark):
    """Five moment sums ride ONE map-side-combined groupBy shuffle; the
    correlation arithmetic is post-aggregate projection."""
    df = _q(spark, "quantity_price_correlation")
    # one aggregate exchange + the presentation sort at most
    assert len(exchanges(df)) <= 2, exchanges(df)


def test_mode_and_kmv_aggregate_before_window(spark):
    """MODE and KMV both reduce to aggregates/windows over already-small
    keyed tables — no cartesian, no broadcast explosion."""
    for name in ["mode_event_type_per_user", "kmv_distinct_users"]:
        strategies = join_strategies(_q(spark, name))
        assert "CartesianProduct" not in strategies, (name, strategies)


def test_locf_single_partition_shuffle(spark):
    """LOCF is one window pass: exactly one hash exchange on the
    partition key plus the presentation sort."""
    df = _q(spark, "locf_last_purchase_value")
    assert len(exchanges(df)) <= 2, exchanges(df)


def test_full_outer_joins_aggregates_not_facts(spark):
    """The full outer join must sit above the two aggregates (SMJ/SHJ of
    small unique-key tables), with both fact scans pruned to the join
    key + count inputs."""
    df = _q(spark, "full_outer_user_presence")
    assert any("o_totalprice" in f for f in pushed_filters(df))


def test_funnel_single_pass_no_cartesian(spark):
    """The ordered funnel must be one groupBy pass + scalar agg + stack —
    no per-stage re-scan joins."""
    df = _q(spark, "conversion_funnel")
    assert "CartesianProduct" not in join_strategies(df)
    from wopen_spark.plans import executed_plan_string

    # AQE repeats the tree in its "Initial Plan" section — count scans in
    # the final plan only
    final = executed_plan_string(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1


def test_histogram_bounds_broadcast(spark):
    """Global min/max bounds ride a broadcast nested-loop cross join of a
    one-row aggregate — never a driver collect, never a shuffled
    cartesian."""
    strategies = join_strategies(_q(spark, "event_value_histogram"))
    assert "BroadcastNestedLoopJoin" in strategies
    assert "CartesianProduct" not in strategies


@pytest.mark.parametrize(
    "name",
    [
        "minhash_signatures_docs",
        "winnowing_fingerprints",
        "doc_token_stats",
        "doc_language_id",
        "doc_quality_scores",
        "doc_rolling_hash",
        "simhash_docs",
        "tfidf_top_terms",
        "bm25_search",
        "unigram_logprob_docs",
        "french_order_dates",
        "date_roundtrip",
        "clean_image_paths",
        "slug_normalize_parts",
        "capitalize_part_names",
    ],
)
def test_clone_collapse_inherit_join_is_broadcast(spark, name):
    """Small case of the clone-collapse contract: below the runtime size
    gate the rejoin must be a broadcast hash join — the corpus side never
    shuffles, no residual sort-merge."""
    strategies = join_strategies(_q(spark, name))
    assert "BroadcastHashJoin" in strategies, (name, strategies)
    assert "SortMergeJoin" not in strategies, (name, strategies)
    assert "CartesianProduct" not in strategies, (name, strategies)


def test_clone_collapse_survives_no_broadcast(spark, monkeypatch):
    """Large case of the clone-collapse contract (r4 verdict #1): when the
    distinct side exceeds the size gate — the 100 TB mostly-unique corpus,
    simulated by zeroing the gate AND disabling broadcast thresholds — the
    fingerprint-keyed rejoin must resolve to a shuffled join
    (SortMergeJoin/ShuffledHashJoin) and still return identical rows,
    instead of force-broadcasting the corpus into an OOM."""
    from wopen_spark.queries import QUERIES, registry

    baseline = {
        (r.p_partkey, r.slug)
        for r in QUERIES["slug_normalize_parts"](spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(registry, "_PER_DISTINCT_BROADCAST_MAX_ROWS", -1)
    before_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    before_adaptive = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["slug_normalize_parts"](spark, SF_SMOKE)
        strategies = join_strategies(df)
        assert any(
            s in ("SortMergeJoin", "ShuffledHashJoin") for s in strategies
        ), strategies
        assert "BroadcastNestedLoopJoin" not in strategies
        assert "CartesianProduct" not in strategies
        got = {(r.p_partkey, r.slug) for r in df.collect()}
        assert got == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before_static)
        if before_adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", before_adaptive
            )


def test_nation_year_profit_star_broadcasts_all_dims(spark):
    """Q9 shape: part/supplier/nation all broadcast; the lineitem fact
    never shuffles for a join — only the final two-key aggregate — and
    the fact scan prunes to the five columns used."""
    df = _q(spark, "nation_year_profit")
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 2  # group-by + order-by only
    assert any(
        "l_extendedprice" in s and "l_returnflag" not in s
        for s in scan_schemas(df)
    )


def test_late_shipment_join_no_cartesian_and_pushdown(spark):
    """Q12 shape: the orders x lineitem equi join must stay a hash/merge
    join (the late-shipment inequality is a residual, not the join key)
    and the shipdate range must reach the lineitem scan."""
    df = _q(spark, "late_shipment_mode_counts")
    assert "CartesianProduct" not in join_strategies(df)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_sole_failed_supplier_self_joins_are_keyed(spark):
    """Q21 shape: the EXISTS/NOT EXISTS compile to keyed joins with the
    supplier inequality as residual — a nested-loop or cartesian here
    would be O(pairs^2) per order at scale."""
    df = _q(spark, "sole_failed_supplier_orders")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert len(exchanges(df)) <= 6


def test_dominant_suppliers_window_reuses_pair_shuffle(spark):
    """Q20 shape: nested agg + per-part window over the shrunken pair
    set — bounded exchanges, broadcast supplier dim."""
    df = _q(spark, "dominant_part_suppliers")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies
    assert len(exchanges(df)) <= 4


def test_session_trigrams_one_shuffle_for_both_windows(spark):
    """The (user, session) window's required distribution is satisfied
    by the user-id hash partitioning of the sessionization window, so
    BOTH window passes ride ONE exchange; the only other exchange is
    the trigram aggregate."""
    df = _q(spark, "session_path_trigrams")
    assert len(exchanges(df)) <= 2
    assert join_strategies(df) == []


def test_bpe_pair_counts_no_python_and_bounded_shuffles(spark):
    """Pair generation is a higher-order transform over the DISTINCT
    word table: no Python UDF anywhere, and only the word/pair
    aggregates (plus the small-file spreader) shuffle."""
    df = _q(spark, "bpe_pair_counts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no row-at-a-time or arrow UDF stage
    assert len(exchanges(df)) <= 3


def test_int8_quantization_broadcasts_dim_stats(spark):
    """The per-dimension min/max stats table (|dims| rows) broadcasts
    back onto the exploded corpus — the corpus itself shuffles only
    for the dim rollups."""
    df = _q(spark, "embedding_int8_quantization")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_min_cost_supplier_broadcasts_all_dims(spark):
    """Q2 shape: part and the supplier~nation~region chain broadcast;
    the fact contracts to (part, supplier) pairs in ONE shuffle and the
    per-part minimum rides a window on the contracted set — exchanges
    stay bounded (pair agg + window + order) with no cartesian."""
    df = _q(spark, "min_cost_supplier_per_part")
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 3


def test_top_quarter_revenue_pushes_date_and_broadcasts_max(spark):
    """Q15 shape: the quarter filter reaches the parquet scan, and the
    global-max threshold joins as a broadcast (1-row aggregate), never
    a driver collect or single-partition window."""
    df = _q(spark, "top_quarter_revenue_supplier")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastHashJoin" in strategies


def test_normalized_dedup_clone_collapse_and_window(spark):
    """The canonical-hash compute inherits through the clone-collapse
    broadcast join; the keep decision is one window shuffle on the
    uniform hash."""
    df = _q(spark, "normalized_text_dedup")
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}
    # +1: _distinct_spread's narrow post-distinct spread exchange
    assert len(exchanges(df)) <= 6


def test_source_minhash_pairwise_is_broadcast(spark):
    """Per-source signatures are |sources| x seeds rows, so the pairwise
    self-join must be a broadcast hash join — a sort-merge or cartesian
    here would shuffle the signature table for nothing."""
    df = _q(spark, "source_minhash_similarity")
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}


def test_vocab_stats_no_joins_bounded_shuffles(spark):
    """Clone-weighted vocabulary rollup: (source, text) contraction,
    (source, word) aggregate, per-source rollup, final order — all
    map-side-combined aggregates, no joins anywhere."""
    df = _q(spark, "source_vocab_stats")
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 5


def test_label_centroids_single_aggregate_shuffle(spark):
    """The posexplode is map-side; the only exchanges are the
    (label, dim) aggregate and the final order — and nothing drops to
    Python."""
    df = _q(spark, "embedding_label_centroids")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 2
    assert "Python" not in plan


def test_ann_recall_joins_stay_broadcast(spark):
    """Recall@5 composes the exact scan (intentional broadcast nested
    loop over the tiny query panel) with the IVF probe join — nothing
    may degrade to a cartesian or a shuffled nested loop."""
    df = _q(spark, "ann_recall_ivf_top5")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "SortMergeJoin" not in strategies
    assert "BroadcastHashJoin" in strategies


def test_centroid_distances_never_rescan_corpus(spark):
    """The pairwise label join runs over the |labels| x dims centroid
    table — broadcast hash joins only; the corpus contributes exactly
    one aggregate pass."""
    df = _q(spark, "label_centroid_distances")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}


def test_quality_sample_is_map_only_after_collapse(spark):
    """Quality-weighted sampling: the only join is the clone-collapse
    broadcast; the acceptance test is a pure filter with no extra
    exchange beyond the distinct-text contraction."""
    df = _q(spark, "quality_weighted_sample")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    # +1: _distinct_spread's narrow post-distinct spread exchange
    assert len(exchanges(df)) <= 5


def test_top_quality_rank_single_window_shuffle(spark):
    """RANK per lang rides one window exchange over the collapsed
    scores."""
    df = _q(spark, "top_quality_docs_per_lang")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    # +1: _distinct_spread's narrow post-distinct spread exchange
    assert len(exchanges(df)) <= 6


def test_ols_single_fact_shuffle_broadcast_dim(spark):
    """OLS moments ride ONE brand aggregate over the fact with the part
    dim broadcast — no second scan for any moment."""
    df = _q(spark, "brand_price_quantity_ols")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 2


def test_column_profile_no_joins(spark):
    """The profiler is pure scan+aggregate per column branch — no joins
    anywhere (shape details pinned by
    test_column_profile_prunes_per_branch_no_expand)."""
    df = _q(spark, "orders_column_profile")
    assert join_strategies(df) == []


def test_grouping_sets_single_expand_shuffle(spark):
    """The three grouping levels expand map-side into one aggregate
    shuffle — same property as CUBE, not three UNION'd scans."""
    df = _q(spark, "event_grouping_sets_stats")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 2


def test_dense_rank_one_window_shuffle(spark):
    df = _q(spark, "acctbal_dense_rank_in_nation")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 2


def test_debounce_single_window_shuffle(spark):
    """Debounce is one (user, type) window pass — no joins, no global
    sort before the final presentation orderBy."""
    df = _q(spark, "debounce_events")
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 2


def test_source_dup_rate_single_aggregate_chain(spark):
    """The per-source distinct count rides the clone-collapse hash; only
    the contraction, the Expand aggregate chain, and the final order
    exchange data."""
    df = _q(spark, "source_dup_rate")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}


def test_pagerank_one_edge_join_per_round(spark):
    """The static outdeg rides on the rank state, so each of the three
    rounds joins the edge list exactly once — the plan must not contain
    a second |edges|-wide join per iteration (2 joins/round would show
    >= 6 hash joins; state-carried outdeg shows 3 edge joins + 3
    node-keyed update joins + the one-time outdeg attach)."""
    df = _q(spark, "pagerank_customer_supplier")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    # localCheckpoint truncates lineage: the visible plan is the last
    # round only — one edge join + one node update join at most.
    assert len([s for s in strategies if "Join" in s]) <= 3


def test_split_leakage_two_aggregates_after_collapse(spark):
    """Leak detection: fingerprint inherits via the clone-collapse
    broadcast; then the per-fingerprint and per-combination aggregates —
    no self-joins, no cartesian."""
    df = _q(spark, "split_leakage_check")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}


def test_event_runs_share_one_user_exchange(spark):
    """Both row_number windows sort within the same user-keyed exchange;
    only the run and histogram aggregates add exchanges."""
    df = _q(spark, "event_type_runs")
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 4


def test_containment_no_cartesian_single_pair_join(spark):
    df = _q(spark, "ngram_containment_adjacent_docs")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies


def test_lang_mismatch_collapse_then_tiny_rollup(spark):
    """Language detection inherits through the clone-collapse broadcast;
    the per-source rollup is one aggregate."""
    df = _q(spark, "lang_mismatch_by_source")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}


def test_above_avg_window_and_rollup_share_exchange(spark):
    """The nation window and the nation rollup must ride ONE exchange —
    the integer-exact threshold needs no second scan or self-join."""
    df = _q(spark, "above_nation_avg_customers")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 2


def test_fixed_size_sample_one_window_shuffle(spark):
    df = _q(spark, "fixed_size_sample_per_lang")
    assert join_strategies(df) == []
    assert len(exchanges(df)) <= 2


def test_minmax_scaling_broadcast_no_fact_shuffle(spark):
    """The 5-group extrema aggregate broadcasts back onto the fact — no
    PARTITION BY event_type window (which would funnel every row through
    one task per type). Exchanges: the tiny extrema agg + the
    presentation sort; the fact itself never shuffles for the join."""
    df = _q(spark, "minmax_scaled_event_values")
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert len(exchanges(df)) <= 2


def test_bloom_filter_broadcasts_to_probe(spark):
    """The <=18-row bloom bitmap and the truth set both broadcast; the
    corpus probe side never shuffles for a join."""
    df = _q(spark, "bloom_membership_src0")
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}
    assert "CartesianProduct" not in strategies


def test_kmv_union_merges_compact_sketches(spark):
    """The pairwise union estimate merges the <= k-row per-type sketches
    (broadcast), never re-scanning raw events per pair; no cartesian
    anywhere."""
    df = _q(spark, "kmv_union_event_types")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastHashJoin" in strategies or "BroadcastNestedLoopJoin" in strategies


def test_session_window_single_aggregate_no_window_pass(spark):
    """Native session_window sessionizes inside the aggregate — no
    window-function sort pass, no joins, one grouping exchange plus the
    presentation sort."""
    df = _q(spark, "session_window_stats")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert join_strategies(df) == []
    assert "Window" not in plan
    assert len(exchanges(df)) <= 3


def test_similar_users_prune_before_pairing(spark):
    """Candidate pairing joins only on RARE trigrams (broadcast rare
    set) — the pair explosion is bounded by rare-bucket sizes, and no
    cartesian appears anywhere in the plan."""
    df = _q(spark, "similar_user_paths")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastHashJoin" in strategies


@pytest.mark.parametrize(
    "name",
    ["fixed_size_sample_per_lang", "top_quality_docs_per_lang", "top3_orders_per_priority"],
)
def test_topk_windows_get_group_limit_pushdown(spark, name):
    """rank()/row_number() <= k filters must plan a WindowGroupLimit —
    Spark's map-side per-group top-k pruning. Without it, one giant
    group (a dominant language at 100 TB) fully sorts on one reducer;
    with it, each map task forwards at most k rows per group."""
    df = _q(spark, name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_brand_cooccurrence_bitmask_no_self_join(spark):
    """The co-occurrence pair expansion must come from the per-order
    brand-bitmask histogram, NOT an orderkey self-join of the fact: no
    SortMergeJoin (the fact never joins itself), every join broadcast
    (the 25-row brand dim), and bit_or's map-side partial combine is
    the only fact-sized shuffle."""
    df = _q(spark, "brand_cooccurrence")
    strategies = join_strategies(df)
    assert "SortMergeJoin" not in strategies, strategies
    assert set(strategies) <= {"BroadcastHashJoin"}, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in plan


def test_brand_cosine_reuses_fact_exchange(spark):
    """Cosine needs both pair numerators and per-brand denominators from
    the same mask histogram — the fact-sized orderkey exchange must be
    computed ONCE and reused (ReusedExchange), not rebuilt per branch:
    at 100 TB a second fact scan+shuffle doubles the dominant cost."""
    from wopen_spark.plans import executed_plan_string

    df = _q(spark, "brand_cooccurrence_cosine")
    assert "SortMergeJoin" not in join_strategies(df)
    plan = executed_plan_string(df)
    assert "ReusedExchange" in plan


def test_sole_failed_single_fact_exchange_no_fact_joins(spark):
    """Q21 decorrelation: one hash(l_orderkey) repartition feeds BOTH
    aggregation levels (partition keys ⊆ group keys), and the only join
    left is the broadcast supplier-name lookup — the semi+anti
    formulation cost ~5 fact-sized exchanges."""
    df = _q(spark, "sole_failed_supplier_orders")
    assert set(join_strategies(df)) <= {"BroadcastHashJoin"}
    from wopen_spark.plans import plan_string

    plan = plan_string(df)
    # both HashAggregates ride the one REPARTITION_BY_COL exchange: no
    # ENSURE_REQUIREMENTS hash exchange on the fact side may appear
    # between the repartition and the per-order aggregate
    assert plan.count("REPARTITION_BY_COL") == 1


def test_column_profile_prunes_per_branch_no_expand(spark):
    """Per-column union branches: each scan reads ONLY its column and no
    Expand (multi-distinct row multiplication) appears anywhere."""
    df = _q(spark, "orders_column_profile")
    from wopen_spark.plans import plan_string

    plan = plan_string(df)
    assert "Expand" not in plan
    schemas = scan_schemas(df)
    # every scan is single-column
    assert schemas and all(s.count(":") == 1 for s in schemas)


def test_order_histogram_aggregates_below_outer_join(spark):
    """Q13: the per-customer count contracts orders BEFORE the left
    join; the join inputs are both customer-sized."""
    from wopen_spark.plans import plan_string

    df = _q(spark, "customer_order_histogram")
    plan = plan_string(df)
    # the aggregate must appear below the join in the plan tree: the
    # join's right subtree contains a HashAggregate over o_custkey
    left = plan.index("Join")
    assert "HashAggregate" in plan[left:], plan


def test_fk_audit_no_forced_fact_broadcast(spark):
    """The lineitem->orders audit must not broadcast the 15M-key orders
    dim: its probe joins are shuffled hash joins, never a
    BroadcastNestedLoop or a broadcast of a fact-sized side."""
    from wopen_spark.plans import plan_string

    df = _q(spark, "fk_integrity_audit")
    strategies = join_strategies(df)
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "ShuffledHashJoin" in strategies


def test_q5_supplier_filter_prunes_fact_before_shuffle(spark):
    """Q5: the region->nation->supplier chain broadcasts INTO lineitem —
    the fact's first join is a BroadcastHashJoin (map-side prune), and
    no SortMergeJoin appears anywhere (shuffled-hash for the fact
    joins)."""
    df = _q(spark, "regional_supplier_volume")
    strategies = join_strategies(df)
    assert "SortMergeJoin" not in strategies, strategies
    assert "BroadcastHashJoin" in strategies
    assert "ShuffledHashJoin" in strategies


def test_adjacent_jaccard_join_carries_fingerprints_not_arrays(spark):
    """The adjacency self-join must exchange only (doc_id, md5) pairs:
    no shingle-array or text column may appear in any Exchange input
    schema (arrays attach map-side via the gated rejoin after the
    join)."""
    df = _q(spark, "ngram_jaccard_adjacent_docs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "sh" != m.group(1).split("#")[0], m.group(0)


def test_bpe_train_reseg_joins_are_broadcast(spark):
    """The BPE trainer's 1-row argmax pair must reach the re-segmentation
    pass as a broadcast (nested-loop on a single row), never a shuffled
    join against the distinct-word table — and no plain cartesian."""
    df = _q(spark, "bpe_train_2merges")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies
    assert all(s.startswith("Broadcast") for s in strategies), strategies


def test_gopher_filter_clone_collapsed_boolean_rollup(spark):
    """Quality flags compute once per DISTINCT text and clones inherit
    via broadcast; the per-source rollup then shuffles only booleans
    (distinct-text agg + source agg + presentation sort)."""
    df = _q(spark, "gopher_quality_filter")
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SortMergeJoin" not in join_strategies(df)
    # _spread spreader + distinct-text (partial/final) + the
    # _distinct_spread narrow spread + source agg + sort
    assert len(exchanges(df)) <= 6, exchanges(df)


def test_key_skew_profile_two_level_aggregates(spark):
    """Each keyspace is one map-combined count shuffle plus a single-row
    reduce — no joins, no cartesian, bounded exchanges across all three
    keyspaces (count + reduce + the correlated top-key lookup)."""
    df = _q(spark, "key_skew_profile")
    assert not [
        s for s in join_strategies(df) if s == "CartesianProduct"
    ], join_strategies(df)
    assert len(exchanges(df)) <= 10, exchanges(df)


def test_footer_row_bound_fast_path(spark):
    """The clone-collapse gate's zero-job fast path: a row-non-increasing
    plan (scan -> project -> distinct) gets a parquet-footer row bound;
    a row-INCREASING plan (explode) must refuse the bound and fall back
    to a real count — an underestimating bound would broadcast a huge
    frame."""
    from pyspark.sql import functions as F

    from wopen_spark.queries import registry

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dk = d.select("text").distinct()
    bound = registry._footer_row_bound(dk)
    assert bound is not None
    assert bound == d.count()  # footer total = table rows >= distinct
    exploded = d.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    assert registry._footer_row_bound(exploded) is None
    joined = dk.join(d, "text").distinct()
    assert registry._footer_row_bound(joined) is None


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result
    and the ids of the jobs the group ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_gate_small_decides_without_count_job(spark):
    """When the footer bound already clears the threshold, the gate must
    not run a count job — the r6 fast path. A row-increasing frame, which
    has no footer bound, runs its count in the same way and is seen."""
    from pyspark.sql import functions as F

    from wopen_spark.queries import registry

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dk = d.select("text").distinct()
    small, jobs = _jobs_in_group(
        spark, "gate-small-footer", lambda: registry._gate_small(dk)
    )
    assert small is True
    assert jobs == []
    words = d.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    small, jobs = _jobs_in_group(
        spark, "gate-small-counted", lambda: registry._gate_small(words)
    )
    assert small is True
    assert jobs


def test_t_single_file_runs_no_job(spark):
    """``_t`` hands Spark the footer schema of a single-file table, so
    building the frame runs no schema-inference job; inferring the same
    file does run one."""
    from wopen_spark.queries.registry import _t
    from wopen_spark.tables import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        _, jobs = _jobs_in_group(
            spark, f"t-footer-{name}", lambda: _t(spark, SF_SMOKE, name)
        )
        assert jobs == [], name
    _, jobs = _jobs_in_group(
        spark,
        "t-inferred",
        lambda: spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
    )
    assert jobs


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_t_footer_schema_equals_inferred(spark, sf_dir):
    """For every test table the footer schema is taken and equals what
    ``spark.read.parquet`` infers, nullability included."""
    import os

    from wopen_spark.queries.registry import _footer_schema, _t
    from wopen_spark.tables import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert _footer_schema(spark, path) is not None, name
        assert _t(spark, sf_dir, name).schema == spark.read.parquet(path).schema, name


def test_t_footer_schema_fallbacks(spark, tmp_path):
    """A Spark-written file's footer schema comes from Spark's row
    metadata; a directory and a nanosecond-timestamp events file fall
    back to inference, which reads the events ts as longs that ``_t``
    converts to microseconds."""
    import datetime
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wopen_spark.queries.registry import _footer_schema, _t

    spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 2)) AS amount, "
        "TIMESTAMP'2024-01-01 00:00:00' AS ts FROM range(3)"
    ).coalesce(1).write.parquet(str(tmp_path / "written"))
    (part,) = glob.glob(str(tmp_path / "written" / "*.parquet"))
    single = tmp_path / "sf"
    single.mkdir()
    shutil.copy(part, single / "amounts.parquet")
    path = str(single / "amounts.parquet")
    assert b"org.apache.spark.sql.parquet.row.metadata" in pq.read_schema(path).metadata
    assert _footer_schema(spark, path) is not None
    assert _t(spark, str(single), "amounts").schema == spark.read.parquet(path).schema

    # a table directory: inferred
    spark.range(3).write.parquet(str(single / "ranged.parquet"))
    assert _footer_schema(spark, str(single / "ranged.parquet")) is None
    assert _t(spark, str(single), "ranged").schema == spark.read.parquet(
        str(single / "ranged.parquet")
    ).schema

    # a TIMESTAMP(NANOS) events file: inferred as longs, converted by _t
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ts], pa.timestamp("ns")),
            }
        ),
        str(single / "events.parquet"),
    )
    assert pq.read_schema(str(single / "events.parquet")).field("ts").type.unit == "ns"
    assert _footer_schema(spark, str(single / "events.parquet")) is None
    events = _t(spark, str(single), "events")
    assert events.schema["ts"].dataType == T.TimestampType()
    (micros,) = events.select(F.unix_micros("ts")).first()
    assert micros == (ts - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
        microseconds=1
    )


def test_connected_components_bounded_graph_runs_one_job(spark):
    """A candidate graph within the driver bound costs ONE Spark job: the
    bounded fetch. Union-find resolves it on the driver and the result is
    a local relation, so reading it back runs nothing more."""
    from wopen_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21)], "id_a long, id_b long"
    ).localCheckpoint()
    comps, jobs = _jobs_in_group(
        spark, "cc-driver", lambda: connected_components(edges)
    )
    assert len(jobs) == 1
    rows, jobs = _jobs_in_group(spark, "cc-driver-read", comps.collect)
    assert jobs == []
    assert {tuple(r) for r in rows} == {
        (3, 3), (5, 3), (7, 3), (9, 3), (20, 20), (21, 20),
    }


def test_load_testdata_runs_no_job(spark):
    """``load_testdata`` registers every sf0.001 view with its footer
    schema, so it runs no schema-inference job, and each view keeps the
    schema Spark infers (no ``_t``-style ts conversion)."""
    from wopen_spark.tables import TESTDATA_TABLES, load_testdata

    views, jobs = _jobs_in_group(
        spark, "load-testdata", lambda: load_testdata(spark, SF_SMOKE)
    )
    assert jobs == []
    assert sorted(views) == sorted(TESTDATA_TABLES)
    for name, df in views.items():
        inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").schema
        assert df.schema == inferred, name
        assert spark.table(name).schema == inferred, name


def test_bounded_dv_upsert_run_once_jobs(spark, tmp_path):
    """A dv upsert batch within the driver row budget costs a fixed
    handful of Spark jobs: the source fetch (the loader's dedup window
    plus the bounded limit) and the classification fetch (plus the mask
    broadcast once masks exist). The distributed path this replaces ran
    10 and 12 (persist + bounds count, mask write, data-file persist,
    count and write) and added 10 and 18 data files. Each commit now
    adds one data file and one mask file."""
    from pyspark.sql import types as T

    from wopen_spark.snapshot_table import SnapshotTable
    from wopen_spark.streaming.topic import FileTopic, UpsertTopicLoader

    schema = T._parse_datatype_string("id long, ts long, amount double, name string")
    table = SnapshotTable(spark, str(tmp_path / "t"))
    table.create(
        spark.createDataFrame([(i, 0, 1.0, "x") for i in range(200)], schema).coalesce(2)
    )
    topic = FileTopic(str(tmp_path / "topic"), partitions=1)
    loader = UpsertTopicLoader(topic, table, "g", schema, key="id", order_col="ts")
    counts = []
    for it in (1, 2):
        topic.produce(
            0,
            [
                {"id": (i * 7 + it) % 300, "ts": it, "amount": float(i), "name": f"n{i}"}
                for i in range(100)
            ],
        )
        _, jobs = _jobs_in_group(spark, f"upsert-{it}", lambda: loader.run_once(spark))
        counts.append(len(jobs))
        commit = table._read_commit(table.latest_version())
        assert len(commit["add"]) == 1
        assert [len(e["paths"]) for e in commit["dv_add"]] == [1]
    assert counts == [4, 5], counts
    assert table.read().count() == len({r.id for r in table.read().collect()})


def test_bounded_snapshot_reads_run_at_most_one_job(spark, tmp_path, monkeypatch):
    """A snapshot read whose files fit the driver budget reads them with
    pyarrow on the driver and lands a local relation: Spark folds a point
    ``read_where``'s filter into it, so its ``collect()`` runs no job,
    and a change feed's ``toPandas()`` runs at most one. The Spark scan
    these replace runs 2 jobs for each on this table (the dv mask
    broadcast included). Below the table's size both reads take that
    scan and return the same rows."""
    from pyspark.sql import types as T

    from tests.conftest import upsert
    from wopen_spark import snapshot_table as st
    from wopen_spark.snapshot_table import SnapshotTable

    schema = T._parse_datatype_string("id long, ts long, amount double, name string")
    table = SnapshotTable(spark, str(tmp_path / "t"))
    table.create(
        spark.createDataFrame([(i, 0, 1.0, "x") for i in range(2000)], schema).coalesce(4)
    )
    v0 = table.latest_version()
    upsert(
        table,
        spark.createDataFrame([(i, 1, 2.0, "y") for i in range(0, 3000, 7)], schema),
        "id",
        mode="dv",
    )
    v1 = table.latest_version()

    def point():
        return sorted(tuple(r) for r in table.read_where({"id": (700, 700)})[0].collect())

    def changes():
        pdf = table.read_changes(v0, v1).toPandas()
        return sorted(pdf.itertuples(index=False, name=None))

    rows, jobs = _jobs_in_group(spark, "point-read", point)
    assert rows == [(700, 1, 2.0, "y")] and jobs == [], jobs
    feed, jobs = _jobs_in_group(spark, "change-read", changes)
    assert len(jobs) <= 1, jobs
    monkeypatch.setattr(st, "DRIVER_MAX_ROWS", 1)
    scanned, jobs = _jobs_in_group(spark, "point-scan", point)
    assert scanned == rows and jobs, jobs
    scanned, jobs = _jobs_in_group(spark, "change-scan", changes)
    assert scanned == feed and jobs, jobs


def test_gate_small_sees_rewritten_files(spark, tmp_path, monkeypatch):
    """Overwriting the files under a path keeps the frame's semanticHash,
    so the gate must re-read the footers: 10 rows gate small, and the
    same-hash frame over a 100-row rewrite must not."""
    from wopen_spark.queries import registry

    monkeypatch.setattr(registry, "_PER_DISTINCT_BROADCAST_MAX_ROWS", 50)
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    small = spark.read.parquet(p)
    assert registry._gate_small(small) is True
    spark.range(100).write.mode("overwrite").parquet(p)
    grown = spark.read.parquet(p)
    assert grown.semanticHash() == small.semanticHash()
    assert registry._gate_small(grown) is False


def test_retention_cohorts_gate_small_broadcasts(spark):
    """Below the size gate the user-cardinality cohort frame broadcasts
    (the fast per-batch plan at every tested SF)."""
    strategies = join_strategies(_q(spark, "retention_cohorts"))
    assert "BroadcastHashJoin" in strategies, strategies


def test_retention_cohorts_survives_no_broadcast(spark, monkeypatch):
    """r5 verdict #1: at a 100x user dimension (simulated by zeroing the
    gate and disabling broadcast thresholds) retention_cohorts must
    resolve to a shuffled join — reusing the hash(user_id) exchanges the
    cohort groupBy and activity distinct already produce — and return
    identical rows, never force-broadcast a user-cardinality frame."""
    from wopen_spark.queries import QUERIES, registry

    baseline = {
        tuple(r) for r in QUERIES["retention_cohorts"](spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(registry, "_PER_DISTINCT_BROADCAST_MAX_ROWS", -1)
    old = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        df = QUERIES["retention_cohorts"](spark, SF_SMOKE)
        strategies = join_strategies(df)
        assert any(
            s in ("SortMergeJoin", "ShuffledHashJoin") for s in strategies
        ), strategies
        assert "BroadcastHashJoin" not in strategies, strategies
        got = {tuple(r) for r in df.collect()}
        assert got == baseline
    finally:
        _restore_confs(spark, old)


def test_stream_static_join_gate(spark, monkeypatch, tmp_path):
    """r5 verdict #2: the stream-static enrich broadcast is size-gated on
    the dim's on-disk bytes (the same estimate autoBroadcastJoinThreshold
    uses for file relations). With the gate zeroed — simulating a 100x
    customer dim — the stream must fall back to an unhinted join and
    still produce the same aggregate."""
    from wopen_spark.streaming import pipeline
    from wopen_spark.streaming.pipeline import available_now_stream_static_join

    base = {
        tuple(r)
        for r in available_now_stream_static_join(
            spark, SF_SMOKE, str(tmp_path / "ck1")
        ).collect()
    }
    monkeypatch.setattr(pipeline, "_STREAM_DIM_BROADCAST_MAX_BYTES", -1)
    got = {
        tuple(r)
        for r in available_now_stream_static_join(
            spark, SF_SMOKE, str(tmp_path / "ck2")
        ).collect()
    }
    assert got == base and base


@pytest.mark.parametrize(
    "name", ["sq8_adc_top10", "matryoshka_prefix_recall16"]
)
def test_sq8_and_matryoshka_score_map_side(spark, name):
    """The SQ8/matryoshka scoring pass must be a broadcast cross join
    (one-row stats/query sides) over the corpus scan — a shuffled
    cartesian or a SortMergeJoin here would be corpus x corpus at
    100 TB. Top-k must be TakeOrderedAndProject, never a global sort."""
    df = _q(spark, name)
    plan_joins = join_strategies(df)
    assert plan_joins and all(
        j in ("BroadcastNestedLoopJoin", "BroadcastHashJoin")
        for j in plan_joins
    ), (name, plan_joins)


def test_sq8_topk_is_take_ordered(spark):
    plan = _q(spark, "sq8_adc_top10")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_rrf_windows_run_after_topn_cut(spark):
    """RRF's rank windows must sit above LIMIT-100 cuts (TakeOrdered),
    so the single-partition window never sees more than 100 rows; the
    only corpus-shaped joins are broadcast."""
    df = _q(spark, "rrf_hybrid_top10")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in join_strategies(df)


def test_dup_span_pipeline_no_cartesian_and_md5_keys(spark):
    """ExactSubstr spans: the dup-gram join must be a hash join on the
    md5 gram key (uniform shuffle), never a cartesian; the island-merge
    windows partition by text."""
    for name in ("dup_span_source_stats", "dup_span_docs"):
        df = _q(spark, name)
        assert "CartesianProduct" not in join_strategies(df), name


def test_nb_classifier_model_joins_are_hashed(spark):
    """NB scoring: the (token, label) model join is corpus x model — no
    cartesian anywhere; the per-label base frame is a broadcast."""
    df = _q(spark, "nb_lang_confusion")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastHashJoin" in strategies


def test_ivfpq_index_search_broadcasts_probes(spark):
    """Persisted-index search: the only corpus-shaped join keys the codes
    scan against the BROADCAST probe frame; nothing cartesian."""
    df = _q(spark, "ivfpq_index_search_top10")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_sq8_index_search_broadcasts_stats_and_queries(spark):
    """Persisted SQ8 search: the corpus codes scan joins only BROADCAST
    one-row frames (stats + query) — map-side reconstruct+score, no
    shuffle touching the corpus, nothing cartesian."""
    df = _q(spark, "sq8_index_search_top10")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_zipf_and_diversity_no_cartesian(spark):
    for name in ("zipf_slope_by_source", "distinct_bigram_ratio_by_source",
                 "near_dup_keep_best_quality"):
        df = _q(spark, name)
        assert "CartesianProduct" not in join_strategies(df), name


def _sql_executions(spark) -> dict[int, str]:
    """Execution id -> physical plan description of every SQL execution
    in the SQL status store (it keeps each execution's final plan and
    works with the UI disabled)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def test_dbscan_candidate_stage_never_cartesian(spark):
    """LSH-DBSCAN's neighborhood stage must stay banded equi-joins —
    a regression to all-pairs would show up as a cartesian/BNLJ here
    and as an O(n^2) blowup at corpus scale. The operator materializes
    its result, so the registered query's final plan is an RDD scan —
    pin the candidate-pair stage's lazy plan and every physical plan
    the operator executes instead. The operator also releases its
    cached neighborhood before it returns."""
    from wopen_spark.operators.graph import dbscan_from_pairs
    from wopen_spark.queries.similarity import _dbscan_eps_pairs

    pairs = _dbscan_eps_pairs(spark, SF_SMOKE)
    plan = plan_string(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    last_id = max(_sql_executions(spark), default=-1)
    dbscan_from_pairs(pairs, min_pts=3)
    plans = [p for i, p in _sql_executions(spark).items() if i > last_id]
    # the neighborhood joins themselves ran: the pin sees real plans
    assert any("Join" in p for p in plans), plans
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sql_merge_parses_to_the_same_clause_structure(spark):
    """The SQL front-door and the DataFrame API must stay one engine:
    parse_merge output feeds merge_into verbatim, so the parsed clause
    dicts ARE the contract — pin the translation."""
    from wopen_spark.sql_dml import parse_merge

    p = parse_merge(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    assert p["keys"] == ["k"]
    assert p["matched"] == [{"action": "update", "cond": None, "set": {"v": "s.v"}}]
    assert p["not_matched"] == [{"action": "insert", "cond": None}]
