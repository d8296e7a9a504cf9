"""Core relational queries — SURVEY.md §2 operators over the test tables.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL oracle string for DuckDB (see registry.py).
Column names are aliased identically on both sides; float aggregates go
through decimal casts so both engines produce bit-identical doubles
regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wopen_spark.functions.text import TOKEN_REGEX, doc_fingerprint, token_count
from wopen_spark.queries.registry import _spread, _dsum, _lsum, _t, query

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (SURVEY §2.6 aggregations;
# reference A1 wp_export_data.py:39-41 generalized). Group-by aggregate with
# map-side partial aggregation; scans only 7 of 16 lineitem columns
# (column pruning) and pushes the date filter to parquet.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _lsum(F.col("l_quantity")).alias("sum_qty"),
            _lsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _lsum(disc_price, 4).alias("sum_disc_price"),
            _lsum(charge, 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# J1-style broadcast dimension join chain (custom_search_extraction.py:96-97:
# big fact x tiny lookup). region/nation are tiny -> explicit broadcast();
# the customer agg shuffles once on the join key.
# ---------------------------------------------------------------------------
@query(
    "customers_per_region",
    oracle="""
    SELECT r.r_name AS region_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY region_name
    """,
)
def customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("region_name")
    )


# ---------------------------------------------------------------------------
# J2-style fact-fact equi join + top-N (get_similarity.py:179-180 shape).
# orders x lineitem shuffle join on orderkey; AQE picks the strategy.
# ---------------------------------------------------------------------------
@query(
    "top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 20
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_lsum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J6 anti-join (assos_with_similarity...py:68-69: the reference does
# ~isin(list) driver-side; at scale that is a broadcast anti join).
# ---------------------------------------------------------------------------
@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
    )
    ORDER BY c.c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order: left_anti against the filtered fact
    (the filter lands on the scan; the anti join shuffles only survivors)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# J7 semi-join (assos_with_similarity...py:55-57 isin(list) -> left_semi).
# ---------------------------------------------------------------------------
@query(
    "suppliers_with_high_value_parts",
    oracle="""
    SELECT s.s_nationkey AS nationkey, COUNT(*) AS n_suppliers
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_extendedprice > 50000
    )
    GROUP BY s.s_nationkey
    ORDER BY nationkey
    """,
)
def suppliers_with_high_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 50000)
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# F5 regex filter (process_open_data.py:266-267 '^Paris' style) + F4 isin +
# A2 distinct. Predicate pushes to the parquet scan (non-regex part).
# ---------------------------------------------------------------------------
@query(
    "parts_regex_filter",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM part
    WHERE regexp_matches(p_name, '^(aqua|blue|green)') AND p_size IN (5, 10, 15, 20)
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def parts_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").rlike("^(aqua|blue|green)"))
        .filter(F.col("p_size").isin(5, 10, 15, 20))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _dsum(F.col("p_retailprice")).alias("total_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# A3 dedup keep-last (assos_validation_retreatment.py:101-106): pandas
# relies on positional order; distributed engines need an explicit ordering
# column -> row_number() over (user_id ORDER BY ts DESC, event_id DESC).
# ---------------------------------------------------------------------------
@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Banding when-chain (get_similarity.py:185-188: ==100 / 70-99 / else) over
# customer balances; output is StringType from the start (SURVEY §2.10 note).
# ---------------------------------------------------------------------------
@query(
    "acctbal_banding",
    oracle="""
    SELECT CASE WHEN c_acctbal >= 8000 THEN 'high'
                WHEN c_acctbal >= 3000 THEN 'mid'
                ELSE 'low' END AS band,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM customer GROUP BY band ORDER BY band
    """,
)
def acctbal_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") >= 8000, "high")
        .when(F.col("c_acctbal") >= 3000, "mid")
        .otherwise("low")
    )
    return (
        c.withColumn("band", band)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("c_acctbal")).alias("total"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Dict-map column (process_open_data.py:102-125 postal->arrondissement):
# create_map literal lookup, unmatched -> NULL (pandas .map semantics).
# ---------------------------------------------------------------------------
_SEGMENT_TIER = {
    "AUTOMOBILE": "consumer",
    "BUILDING": "industrial",
    "FURNITURE": "consumer",
    "HOUSEHOLD": "consumer",
    "MACHINERY": "industrial",
}


@query(
    "segment_tier_map",
    oracle="""
    SELECT CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'consumer'
                             WHEN 'BUILDING' THEN 'industrial'
                             WHEN 'FURNITURE' THEN 'consumer'
                             WHEN 'HOUSEHOLD' THEN 'consumer'
                             WHEN 'MACHINERY' THEN 'industrial'
           END AS tier,
           COUNT(*) AS n
    FROM customer GROUP BY tier ORDER BY tier NULLS FIRST
    """,
)
def segment_tier_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    mapping = F.create_map(
        *[F.lit(x) for kv in _SEGMENT_TIER.items() for x in kv]
    )
    return (
        c.withColumn("tier", mapping[F.col("c_mktsegment")])
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("tier"))
    )


# ---------------------------------------------------------------------------
# U1 union (custom_search_extraction.py:83-87 concat) + A2 distinct.
# ---------------------------------------------------------------------------
@query(
    "union_distinct_keys",
    oracle="""
    SELECT k AS custkey FROM (
      SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000
      UNION
      SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
    ) ORDER BY custkey
    """,
)
def union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("custkey"))
    b = c.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.unionByName(b).distinct().orderBy("custkey")


# ---------------------------------------------------------------------------
# A5 set difference (custom_search_extraction.py:44-47: to_search EXCEPT
# searched) — parts never shipped by any supplier of nation 0.
# ---------------------------------------------------------------------------
@query(
    "parts_except",
    oracle="""
    SELECT p_partkey FROM part WHERE p_size > 25
    EXCEPT
    SELECT l_partkey AS p_partkey FROM lineitem WHERE l_quantity >= 45
    ORDER BY p_partkey
    """,
)
def parts_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 25).select("p_partkey")
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return p.subtract(shipped).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# O1/O2 multi-key sort + head-N (assos_with_similarity...py:87,
# custom_search_extraction.py:189-190).
# ---------------------------------------------------------------------------
@query(
    "orders_sorted_head",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def orders_sorted_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.asc("o_orderdate"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Window top-1 per group (SURVEY §2.7: becomes row_number in Spark).
# ---------------------------------------------------------------------------
@query(
    "top_supplier_per_nation",
    oracle="""
    SELECT s_nationkey, s_suppkey, s_name, s_acctbal
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn
      FROM supplier
    ) WHERE rn = 1 ORDER BY s_nationkey
    """,
)
def top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# Text analysis over documents (training-data ops). Pure Column
# expressions; at 100 TB these run in codegen with zero Python.
# ---------------------------------------------------------------------------
@query(
    "doc_token_stats",
    # NB: DuckDB standard strings treat backslash literally, so \S reaches
    # RE2 as-is; Spark gets the same pattern via F.lit.
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens,
           len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.queries.registry import _per_distinct_text

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return (
        _per_distinct_text(
            d.select("doc_id", "n_chars", "text"),
            lambda t: t.select(
                "text",
                token_count(F.col("text")).alias("n_tokens"),
                F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_ws_tokens"),
            ),
        )
        .select("doc_id", "n_tokens", "n_ws_tokens", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "doc_fingerprint_dedup",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY fingerprint
    HAVING COUNT(*) > 0
    ORDER BY fingerprint
    """,
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groupBy, keep min doc_id per group.
    Map-side partial agg -> one shuffle on the fingerprint."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return (
        d.withColumn("fingerprint", doc_fingerprint(F.col("text")))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("fingerprint")
    )


# E1-E3/E5 http_enrich (SURVEY §2.11, the reference's signature per-row
# enrichment pattern) pushed through the correctness gate: a deterministic
# transport (md5 of the input) exercises the full mapInPandas + thread-pool
# + retry path with values DuckDB can re-derive.
@query(
    "http_enrich_fingerprint",
    oracle="""
    SELECT c_custkey, md5(c_name) AS geo_fingerprint
    FROM customer ORDER BY c_custkey
    """,
)
def http_enrich_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.operators.http_enrich import http_enrich

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")

    def factory():  # local def: cloudpickle ships it by value to workers
        import hashlib

        return lambda s: hashlib.md5(s.encode()).hexdigest()

    out = http_enrich(c, "c_name", factory, out_col="geo_fingerprint")
    return out.select("c_custkey", "geo_fingerprint").orderBy("c_custkey")


# Hierarchical aggregate (ROLLUP): subtotals per (priority, status), per
# priority, and grand total in ONE pass — Catalyst expands the grouping
# sets map-side, so it costs a single shuffle, not three queries.
@query(
    "orders_rollup_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def orders_rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


# LISTAGG surface: per-nation sorted supplier roster — sort_array +
# array_join is the deterministic distributed form (string_agg with an
# unpinned order is partitioning-dependent).
@query(
    "nation_supplier_roster",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_suppliers,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS roster
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def nation_supplier_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias(
                "roster"
            ),
        )
        .orderBy("nation")
    )
