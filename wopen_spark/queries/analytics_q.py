"""Wide-analytics coverage: pivot, exact quantiles, lateral explode
top-N, and the approximate-aggregate toolkit (HLL / KMV / CMS / Bloom /
quantile sketches — every sketch is built from md5-derived hashes so
both engines construct the IDENTICAL sketch and the whole registry is
value-checked against the DuckDB oracle; accuracy contracts vs exact
answers are additionally unit-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wopen_spark.queries.registry import (
    _gate_small,
    _spread,
    _t,
    query,
)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_event_counts",
    oracle=f"""
    SELECT user_id % 10 AS user_bucket,
           {", ".join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_bucket ORDER BY user_bucket
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an explicit value list — the list keeps the
    pivot single-pass (no extra distinct scan to discover columns)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # absent combos: pivot yields null, conditional COUNT yields 0
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    ).orderBy("user_bucket")


@query(
    "order_price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS q50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS q75
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (F.percentile, not the sketch) —
    rounded to 4 decimals on both sides to absorb last-ulp interpolation
    differences between engines."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            *[
                F.round(F.percentile(F.col("o_totalprice"), F.lit(q)), 4).alias(name)
                for name, q in [("q25", 0.25), ("q50", 0.5), ("q75", 0.75)]
            ]
        )
        .orderBy("o_orderpriority")
    )


@query(
    "top_tokens",
    oracle="""
    SELECT t.token, COUNT(*) AS n
    FROM documents, unnest(regexp_extract_all(lower(text), '\\S+')) AS t(token)
    GROUP BY t.token ORDER BY n DESC, token LIMIT 20
    """,
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode + global top-N: partial-aggregated per partition,
    only (tokens x partitions) rows shuffle, TakeOrdered caps the sort."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), F.lit(0))
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# Sketch aggregates: engine-specific outputs, so no SQL oracle (the driver
# records the weaker rows-only check); the accuracy contract lives in
# tests/test_operators.py::test_approx_aggregates_within_tolerance.
# ---------------------------------------------------------------------------
# HLL distinct-count + binned-median sketch, ENGINE-EXACT: registers are
# md5-derived (both engines hash the same bytes, so they build the
# IDENTICAL sketch — the KMV/CMS/Bloom portability pattern), estimate
# arithmetic rides exact integers (register weights are bit-shifts
# summed as BIGINT), and the only transcendental (the linear-counting
# ln) comes from a 256-entry precomputed literal table instead of each
# engine's libm. This closes the registry's last rows-only entry.
#
# Sketch layout (m=256 registers, 52-bit hashes): h = md5('hll|'||user),
# register index = first byte, rho = leading-zeros-of-remaining-52-bits
# + 1 (via length(bin(v)) — exact integer on both engines). Scale shape
# unchanged from real HLL: one map-combined shuffle on (event_type,
# register) — 256 rows per group max — then a per-group rollup;
# constant memory regardless of user cardinality.
# ---------------------------------------------------------------------------
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)  # E_raw = C / denom
_HLL_LN = [0.0] + [
    _HLL_M * __import__("math").log(_HLL_M / v) for v in range(1, _HLL_M + 1)
]  # 1-indexed by zero-register count V; LN[0] unused
_HLL_SMALL = 2.5 * _HLL_M
_MED_BINS = 1024


def _hll_est_case(denom: str, v: str, ln_elem: str) -> str:
    """Shared estimate expression: linear counting below 2.5m with empty
    registers present, else the raw harmonic-mean estimate."""
    raw = f"{_HLL_C!r} / CAST({denom} AS DOUBLE)"
    return (
        f"CASE WHEN {v} > 0 AND {raw} <= {_HLL_SMALL!r} "
        f"THEN {ln_elem} ELSE {raw} END"
    )


@query(
    "approx_event_stats",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) AS idx,
             CAST(('0x' || substr(hx, 3, 13)) AS BIGINT) AS hv
      FROM (SELECT event_type,
                   md5('hll|' || CAST(user_id AS VARCHAR)) AS hx
            FROM events)
    ),
    regs AS (
      SELECT event_type, idx,
             MAX(CASE WHEN hv = 0 THEN 53 ELSE 53 - length(bin(hv)) END) AS r
      FROM h GROUP BY 1, 2
    ),
    hll AS (
      SELECT event_type,
             SUM(CAST(1 AS BIGINT) << (53 - r)) AS sum_s,
             {_HLL_M} - COUNT(*) AS v
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT event_type,
             round({_hll_est_case(
                 f"sum_s + v * {1 << 53}", "v",
                 f"([{', '.join(repr(x) for x in _HLL_LN)}])[v + 1]")}, 6)
               AS approx_users
      FROM hll
    ),
    bounds AS (
      SELECT event_type, MIN(value) AS mn, MAX(value) AS mx,
             COUNT(*) AS n FROM events GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type,
             CASE WHEN b.mx = b.mn THEN 0
                  ELSE LEAST(CAST(FLOOR((e.value - b.mn)
                         / ((b.mx - b.mn) / {_MED_BINS}.0)) AS INTEGER),
                       {_MED_BINS - 1}) END AS bin
      FROM events e JOIN bounds b USING (event_type)
    ),
    hist AS (
      SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
    ),
    med_bin AS (
      SELECT event_type, MIN(bin) AS bin FROM (
        SELECT hist.event_type, hist.bin,
               SUM(c) OVER (PARTITION BY hist.event_type ORDER BY bin) AS cum,
               b.n
        FROM hist JOIN bounds b USING (event_type)
      ) WHERE cum >= (n + 1) // 2 GROUP BY 1
    )
    SELECT est.event_type, approx_users,
           round(CASE WHEN b.mx = b.mn THEN b.mn
                 ELSE b.mn + (m.bin + 0.5) * ((b.mx - b.mn) / {_MED_BINS}.0)
                 END, 6) AS approx_median_value
    FROM est
    JOIN bounds b USING (event_type)
    JOIN med_bin m USING (event_type)
    ORDER BY event_type
    """,
)
def approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a deterministic 256-register
    HLL, and an approximate median via a 1024-bin histogram — the
    constant-memory sketches that replace exact distinct/quantile at
    100 TB (exact distinct = full shuffle of the key space; HLL = a few
    KB per group, mergeable map-side; the histogram shuffles 1024 rows
    per group, never the values)."""
    ev = _t(spark, sf_dir, "events")
    hx = F.md5(F.concat(F.lit("hll|"), F.col("user_id").cast("string")))
    h = ev.select(
        "event_type",
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("int").alias("idx"),
        F.conv(F.substring(hx, 3, 13), 16, 10).cast("long").alias("hv"),
    )
    regs = h.groupBy("event_type", "idx").agg(
        F.max(
            F.when(F.col("hv") == 0, 53).otherwise(
                53 - F.length(F.bin(F.col("hv")))
            )
        ).alias("r")
    )
    hll = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - r)")).alias("sum_s"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    est = hll.select(
        "event_type",
        F.round(
            F.expr(
                _hll_est_case(
                    f"sum_s + v * {1 << 53}",
                    "v",
                    f"element_at(array({', '.join(repr(x) for x in _HLL_LN)}), "
                    f"cast(v + 1 as int))",
                )
            ),
            6,
        ).alias("approx_users"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / float(_MED_BINS)
    binned = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width).cast("int"),
                F.lit(_MED_BINS - 1),
            )
        )
        .alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("bin")
    med_bin = (
        hist.withColumn("cum", F.sum("c").over(w))
        .join(F.broadcast(bounds.select("event_type", "n")), "event_type")
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        est.join(F.broadcast(bounds), "event_type")
        .join(F.broadcast(med_bin), "event_type")
        .select(
            "event_type",
            "approx_users",
            F.round(
                F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
                    F.col("mn") + (F.col("bin") + 0.5) * width
                ),
                6,
            ).alias("approx_median_value"),
        )
        .orderBy("event_type")
    )

# ---------------------------------------------------------------------------
# Bigram collocations: consecutive token pairs without exploding tokens
# twice. The pair list is built inside the array domain (slice + zip_with),
# so each document contributes one row to the explode and the only shuffle
# is the final partial-aggregated count — same shuffle budget as a unigram
# count. (A self-join on token position would shuffle the whole token
# stream twice.)
# ---------------------------------------------------------------------------
@query(
    "bigram_collocations",
    oracle=r"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS ts FROM documents
    ),
    pairs AS (
      SELECT unnest(list_zip(ts[1:greatest(len(ts)-1, 0)], ts[2:len(ts)])) AS p
      FROM toks
    )
    SELECT p[1] || ' ' || p[2] AS bigram, COUNT(*) AS n
    FROM pairs
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token bigrams over the corpus (collocation mining,
    a standard corpus-statistics pass in training-data pipelines)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    ts = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), F.lit(0))
    n_pairs = F.greatest(F.size(ts) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(ts, 1, n_pairs),
        F.slice(ts, 2, n_pairs),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Calendar-spine resample: zero-fill missing days in a sparse daily series.
# The spine is generated from the aggregated bounds (|days| rows), so the
# generate-join side is trivially broadcast; the big table is touched once
# by the aggregate. The reference's pandas equivalent is
# DataFrame.resample('D').sum().fillna(0) — this is the distributed shape.
# ---------------------------------------------------------------------------
@query(
    "daily_purchase_zero_filled",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(18,2))) AS rev,
             COUNT(*) AS n
      FROM events
      WHERE event_type = 'purchase' AND user_id % 31 = 7
      GROUP BY d
    ),
    days AS (
      SELECT CAST(u AS DATE) AS day FROM (
        SELECT unnest(generate_series((SELECT min(d) FROM daily),
                                      (SELECT max(d) FROM daily),
                                      INTERVAL 1 DAY)) AS u
      )
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COALESCE(rev, 0) AS DOUBLE) AS revenue,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_purchases
    FROM days LEFT JOIN daily ON day = d
    ORDER BY day
    """,
)
def daily_purchase_zero_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 31 == 7)
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    spine = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    return (
        spine.join(F.broadcast(daily), spine.day == daily.d, "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("rev").cast("double"), F.lit(0.0)).alias("revenue"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_purchases"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# INTERSECT coverage: users present in two behavioral cohorts. Spark plans
# INTERSECT as a left-semi join over distinct keys — two partial-aggregated
# distincts and one equi-join, no row materialization of the full event
# stream.
# ---------------------------------------------------------------------------
@query(
    "clicker_purchaser_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY user_id
    """,
)
def clicker_purchaser_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(purchasers).orderBy("user_id")


@query(
    "quantity_price_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
             -- cents^2 ~ 1e14 per row: the squared-price moment exceeds
             -- the long range beyond ~1e5 rows/group, so it accumulates
             -- in DECIMAL(38,0) (exact on both engines) before the cast
             CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))
                      * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 10000.0 AS syy,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag AS returnflag,
           CAST(n AS BIGINT) AS n_lines,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS quantity_price_corr
    FROM m ORDER BY returnflag
    """,
)
def quantity_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group computed from EXACT scaled-long
    moment sums (Σx, Σy, Σx², Σy², Σxy as overflow-safe longs), combined
    with the identical double expression on both engines — the
    order-independent alternative to F.corr, whose float accumulation
    order is partitioning-dependent. One shuffle (the groupBy); the five
    moments ride the same map-side partial aggregate. Quantities are
    integral and prices 2-dp in TPC-H, so the long casts are lossless."""
    li = _t(spark, sf_dir, "lineitem")
    qx = F.round(F.col("l_quantity")).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    # cents^2 ~ 1e14/row overflows a long sum beyond ~1e5 rows per group;
    # the squared-price moment accumulates in decimal (exact, matching
    # the oracle's DECIMAL(38,0)) and only then casts to double
    pd_ = pc.cast("decimal(18,0)")
    m = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qx).cast("double").alias("sx"),
        (F.sum(pc).cast("double") / 100.0).alias("sy"),
        F.sum(qx * qx).cast("double").alias("sxx"),
        (F.sum(pd_ * pd_).cast("double") / 10000.0).alias("syy"),
        (F.sum(qx * pc).cast("double") / 100.0).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "returnflag",
        F.col("n").cast("long").alias("n_lines"),
        F.round(corr, 6).alias("quantity_price_corr"),
    ).orderBy("returnflag")


@query(
    "mode_event_type_per_user",
    oracle="""
    SELECT user_id, event_type AS mode_type, n FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MODE (most frequent value, lexicographic tie-break): one
    count aggregate then a window over the already-small (user, type)
    table — never a collect of raw values per key."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
        .orderBy("user_id")
    )


_KMV_K = 64
_KMV_SCALE = float(16 ** 15)  # hash domain: 15 hex chars -> [0, 16^15)


@query(
    "kmv_distinct_users",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (
      SELECT event_type, MAX(hv) AS kth, COUNT(*) AS k_used
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type
    )
    SELECT event_type, n_exact,
           CASE WHEN k_used < {_KMV_K} THEN CAST(k_used AS DOUBLE)
                ELSE round((k_used - 1) * {_KMV_SCALE!r} / kth, 6) END AS kmv_estimate
    FROM sk JOIN exact USING (event_type)
    ORDER BY event_type
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch, ORACLE-MATCHED: unlike
    HLL (engine-specific registers, rows-only check), KMV is defined by
    pure arithmetic — the k smallest salted-md5 hashes of the key — so
    any engine derives the identical estimate. Mergeable (union = k
    smallest of concatenated sketches), one shuffle on (type, hash) for
    the distinct + the tiny per-type top-k window; if the key set is
    smaller than k the sketch IS the exact count."""
    ev = _t(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # one fact-wide (type, user) distinct shared by the sketch build and
    # the exact ground truth; hashing runs per distinct pair, not per
    # event row, and the cheap pair-sized second distinct preserves the
    # oracle's distinct-after-hash collision semantics
    tu = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    h = tu.select("event_type", hv.alias("hv")).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").alias("kth"), F.count(F.lit(1)).alias("k_used"))
    )
    exact = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
    ).otherwise(F.round((F.col("k_used") - 1) * _KMV_SCALE / F.col("kth"), 6))
    return (
        sk.join(exact, "event_type")
        .select("event_type", "n_exact", est.alias("kmv_estimate"))
        .orderBy("event_type")
    )


@query(
    "locf_last_purchase_value",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events ORDER BY event_id
    """,
)
def locf_last_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-filling (last observation carried forward): every event
    carries the user's most recent purchase value — last(ignorenulls)
    over a running row frame, one shuffle on the partition key. The
    sparse column is synthesized in place (value where purchase), the
    standard shape for forward-filling sensor/price series."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(sparse, ignorenulls=True).over(w).alias("last_purchase_value"),
    ).orderBy("event_id")


@query(
    "conversion_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT (t_view IS NOT NULL) AS s1,
             (t_view IS NOT NULL AND t_click >= t_view) AS s2,
             (t_view IS NOT NULL AND t_click >= t_view AND t_purchase >= t_click) AS s3
      FROM firsts
    )
    SELECT stage_idx, stage, n_users FROM (
      SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) FILTER (WHERE s1) AS n_users FROM flags
      UNION ALL
      SELECT 2, 'view>click', COUNT(*) FILTER (WHERE s2) FROM flags
      UNION ALL
      SELECT 3, 'view>click>purchase', COUNT(*) FILTER (WHERE s3) FROM flags
    ) ORDER BY stage_idx
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel in ONE pass: per-user first-timestamps pivot into
    three columns with conditional MIN (single groupBy shuffle), the
    ordering predicates become boolean flags, and the three stage counts
    unpivot via stack — no per-stage re-scan, no self-joins."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") >= F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") >= F.col("t_click"))
    counts = firsts.agg(
        F.count(F.when(s1, 1)).alias("c1"),
        F.count(F.when(s2, 1)).alias("c2"),
        F.count(F.when(s3, 1)).alias("c3"),
    )
    return counts.selectExpr(
        "stack(3, 1, 'view', c1, 2, 'view>click', c2, 3, 'view>click>purchase', c3)"
        " AS (stage_idx, stage, n_users)"
    ).orderBy("stage_idx")


@query(
    "retention_cohorts",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', c.cohort_week, a.act_week) // 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users bucketed by first-activity week,
    counted in each subsequent activity week. The cohort table is
    USER-cardinality — small at every tested SF, but proportional to the
    user dimension of the corpus, so the broadcast is SIZE-GATED
    (the r5 verdict's remaining OOM-cliff pattern): below the threshold
    the classic broadcast; above it a plain equi join — the cohort side
    rides its existing hash(user_id) groupBy exchange and only the
    activity side adds a hash(user_id) exchange (its distinct keys on
    (user_id, act_week)); no md5-fingerprint indirection needed for a
    narrow long key, and no possible broadcast OOM. Gate cost: the
    distinct-user footer bound equals the EVENTS row count (a distinct
    can't be bounded tighter from footers), so past ~100k events the
    gate pays one column-pruned count job per call — the price of not
    hard-coding the broadcast. Both engines truncate weeks
    to Monday."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    users = ev.select("user_id").distinct()
    side = F.broadcast(cohort) if _gate_small(users) else cohort
    return (
        activity.join(side, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.col("act_week").cast("date"), F.col("cohort_week").cast("date")
                )
                / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "event_value_histogram",
    oracle="""
    WITH bounds AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    )
    SELECT CAST(least(9, floor((e.value - b.lo) / ((b.hi - b.lo) / 10))) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           round(b.lo + least(9, floor((e.value - b.lo) / ((b.hi - b.lo) / 10))) * ((b.hi - b.lo) / 10), 6) AS bucket_lo
    FROM events e, bounds b
    GROUP BY 1, 3 ORDER BY 1
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 10-bin histogram over a global [min, max] range: the bounds
    are a one-row aggregate broadcast back over the scan (no driver
    collect), the bucket id is pure arithmetic identical on both
    engines, and the count is one map-side-combined shuffle."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 10
    bucket = F.least(F.lit(9), F.floor((F.col("value") - F.col("lo")) / width))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            bucket.cast("long").alias("bucket"),
            F.round(F.col("lo") + bucket * width, 6).alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bucket", "n", "bucket_lo")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Session path mining: the most common 3-step event-type paths WITHIN a
# session (30-min-gap sessionization, same contract as user_sessions).
# The navigation-pattern query of product analytics. Two window passes
# over the same (user_id)-partitioned sort — Catalyst reuses one
# shuffle+sort for both because the second window's (user, session) key
# is a prefix extension — then one small aggregate over trigrams.
# ---------------------------------------------------------------------------
@query(
    "session_path_trigrams",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ),
    tri AS (
      SELECT event_type AS step1,
             LEAD(event_type, 1) OVER w AS step2,
             LEAD(event_type, 2) OVER w AS step3
      FROM sess
      WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, COUNT(*) AS cnt
    FROM tri WHERE step3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY cnt DESC, step1, step2, step3
    LIMIT 30
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wrun)
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = sess.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w2).alias("step2"),
        F.lead("event_type", 2).over(w2).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "step1", "step2", "step3")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# 2D skyline (Pareto frontier): orders not dominated in (price, recency)
# — no other order has >= price AND >= date with one strict. The naive
# formulation is an O(n^2) inequality self-join; the scale shape here is
# bucketed two-phase: (1) price-bucket summaries give every row its
# definite dominator max-date from STRICTLY HIGHER buckets via a tiny
# bucket-level running max (broadcast back), (2) a per-bucket window
# resolves the within-bucket strict-greater prices in parallel. Prices
# compare in exact integer cents, dates in integer days, so the
# frontier membership test is engine-exact. The DuckDB oracle uses the
# unbucketed single-window formulation — two INDEPENDENT derivations
# of the frontier must agree row-for-row.
# ---------------------------------------------------------------------------
@query(
    "pareto_frontier_orders",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ),
    flagged AS (
      SELECT o_orderkey, cents, day,
             MAX(day) OVER (ORDER BY cents DESC
                            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_day_higher,
             MAX(day) OVER (PARTITION BY cents) AS same_price_max
      FROM o
    )
    SELECT o_orderkey, cents, day
    FROM flagged
    WHERE (max_day_higher IS NULL OR day > max_day_higher)
      AND day = same_price_max
    ORDER BY cents DESC, o_orderkey
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("day"),
    )
    # ~$2k-wide price buckets: few thousand buckets at any scale
    o = o.withColumn("bkt", (F.col("cents") / 200_000).cast("long"))
    bkt_max = o.groupBy("bkt").agg(F.max("day").alias("bmax"))
    # tiny bucket table: running max over STRICTLY higher buckets
    wb = Window.orderBy(F.desc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bkt_cum = bkt_max.withColumn("higher_bkt_max", F.max("bmax").over(wb)).select(
        "bkt", "higher_bkt_max"
    )
    # per-bucket window: strictly-higher prices WITHIN the bucket
    # (integer cents => RANGE ... 1 PRECEDING under DESC is exact '>')
    ww = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wsame = Window.partitionBy("cents")
    flagged = (
        o.join(F.broadcast(bkt_cum), "bkt")
        .withColumn("within_higher_max", F.max("day").over(ww))
        .withColumn("same_price_max", F.max("day").over(wsame))
    )
    dominator_max = F.greatest(
        F.coalesce(F.col("within_higher_max"), F.lit(-1)),
        F.coalesce(F.col("higher_bkt_max"), F.lit(-1)),
    )
    return (
        flagged.filter(
            (F.col("day") > dominator_max)
            & (F.col("day") == F.col("same_price_max"))
        )
        .select("o_orderkey", "cents", "day")
        .orderBy(F.desc("cents"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: depth-3 x width-64 counter matrix over
# the event user stream, estimate = min over the 3 hashed counters —
# always >= the true count, with collision inflation bounded by the
# width. Hashes are md5-derived, so BOTH engines build the identical
# sketch and the estimates are integer-exact. The sketch table (192
# rows) broadcasts back onto the distinct keys; nothing quadratic
# anywhere. The query reports the top-20 estimated users alongside
# their exact counts — the estimate/exact gap IS the sketch's accuracy
# statement, value-checked.
# ---------------------------------------------------------------------------
_CMS_W = 64


def _cms_bucket_sql(j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms{j}|' || CAST(user_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {_CMS_W}"
    )


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH exact AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
    ),
    counters AS (
      SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT 0 AS j, {_cms_bucket_sql(0)} AS bucket, COUNT(*) AS cnt FROM events GROUP BY 2
        UNION ALL
        SELECT 1, {_cms_bucket_sql(1)}, COUNT(*) FROM events GROUP BY 2
        UNION ALL
        SELECT 2, {_cms_bucket_sql(2)}, COUNT(*) FROM events GROUP BY 2
      ) GROUP BY 1, 2
    ),
    keyed AS (
      SELECT user_id, 0 AS j, {_cms_bucket_sql(0)} AS bucket FROM exact
      UNION ALL
      SELECT user_id, 1, {_cms_bucket_sql(1)} FROM exact
      UNION ALL
      SELECT user_id, 2, {_cms_bucket_sql(2)} FROM exact
    ),
    est AS (
      SELECT k.user_id, MIN(c.c) AS est_cnt
      FROM keyed k JOIN counters c ON k.j = c.j AND k.bucket = c.bucket
      GROUP BY 1
    )
    SELECT e.user_id, est.est_cnt, e.exact_cnt
    FROM est JOIN exact e USING (user_id)
    ORDER BY est.est_cnt DESC, e.user_id LIMIT 20
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id")

    def bucket(j: int):
        return (
            F.conv(
                F.md5(F.concat(F.lit(f"cms{j}|"), F.col("user_id").cast("string"))).substr(1, 8),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    # one pass builds all 3 sketch rows: explode each event into its
    # (j, bucket) cells, then count per cell — map-side combinable
    cells = ev.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), bucket(j).alias("bucket"))
                for j in range(3)
            ])
        ).alias("cell")
    ).select("cell.j", "cell.bucket")
    counters = cells.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    keyed = exact.select(
        "user_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), bucket(j).alias("bucket"))
                for j in range(3)
            ])
        ).alias("cell"),
    ).select("user_id", "cell.j", "cell.bucket")
    est = (
        keyed.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_cnt"))
    )
    return (
        est.join(exact, "user_id")
        .select("user_id", "est_cnt", "exact_cnt")
        .orderBy(F.desc("est_cnt"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-key EWMA (alpha=0.25) of event values — the stateful per-key fold
# done WITHOUT Python and WITHOUT a driver loop: collect each user's
# (ts-ordered) values into an array and fold with the higher-order
# aggregate, all inside codegen. Chronological order is pinned by
# (ts, event_id) sort in both engines, so the fold's IEEE op sequence
# is identical and the result deterministic. Per-user arrays are
# event-count bounded (fine for user streams; for unbounded keys the
# windowed-recurrence form replaces the collect).
# ---------------------------------------------------------------------------
@query(
    "ewma_user_values",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(vals) AS n_events,
           round(list_reduce(vals,
                 (acc, x) -> CAST(0.25 AS DOUBLE) * x + CAST(0.75 AS DOUBLE) * acc),
                 6) AS ewma
    FROM ordered ORDER BY user_id
    """,
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    ordered = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", F.col("value").cast("double").alias("v")))
        ).alias("rows")
    )
    vals = F.col("rows").getField("v")
    return ordered.select(
        "user_id",
        F.size("rows").alias("n_events"),
        F.round(
            F.aggregate(
                F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
                F.element_at(vals, 1),
                lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
            ),
            6,
        ).alias("ewma"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Chi-square independence test: event type vs day-of-week — the
# data-quality drift check ("did the traffic mix change by weekday?").
# The full contingency grid (including zero cells) comes from a
# broadcast cross of the two tiny margins; expected counts are exact
# long products entering doubles below 2^53; the chi-square terms sum
# in the scaled-long domain. Everything broadcast — the fact is
# touched once for the cell counts.
# ---------------------------------------------------------------------------
@query(
    "chisq_event_dow",
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_m AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    cols_m AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT rm.event_type, cm.dow, rm.r, cm.c, COALESCE(o.o, 0) AS o
      FROM rows_m rm CROSS JOIN cols_m cm
      LEFT JOIN obs o ON o.event_type = rm.event_type AND o.dow = cm.dow
    ),
    terms AS (
      SELECT CAST(round(
               (o - CAST(r AS DOUBLE) * c / n.n)
               * (o - CAST(r AS DOUBLE) * c / n.n)
               / (CAST(r AS DOUBLE) * c / n.n) * 1e9) AS BIGINT) AS t_s,
             r, c
      FROM grid CROSS JOIN tot n
    )
    SELECT round(CAST(SUM(t_s) AS DOUBLE) / 1e9, 6) AS chi2,
           CAST((COUNT(DISTINCT r) * 0 + (SELECT COUNT(*) FROM rows_m) - 1)
                * ((SELECT COUNT(*) FROM cols_m) - 1) AS BIGINT) AS dof,
           (SELECT n FROM tot) AS n_events
    FROM terms
    """,
)
def chisq_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    )
    obs = ev.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    rows_m = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cols_m = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(F.broadcast(obs), ["event_type", "dow"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    terms = grid.crossJoin(F.broadcast(tot)).select(
        F.round((F.col("o") - e) * (F.col("o") - e) / e * 1e9)
        .cast("long")
        .alias("t_s")
    )
    dof = (
        rows_m.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(F.broadcast(cols_m.agg(F.count(F.lit(1)).alias("nc"))))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"))
    )
    return (
        terms.agg(F.round(F.sum("t_s").cast("double") / 1e9, 6).alias("chi2"))
        .crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(tot.select(F.col("n").alias("n_events"))))
    )


# ---------------------------------------------------------------------------
# Market-basket brand co-occurrence: brand pairs appearing in the same
# order, by support. The brand universe is tiny (25 values, <=64 by
# contract), so each order's brand SET packs into one long bitmask:
# lineitem maps to (orderkey, 1<<bit) and a single bit_or groupBy
# replaces BOTH the (order, brand) distinct AND the orderkey self-join.
# bit_or is a declarative aggregate — map-side partial combine collapses
# duplicate (order, brand) hits before the shuffle, and the whole path
# stays inside whole-stage codegen (no ObjectHashAggregate sets, no
# sort-merge of a |fact|-sized side against itself). Pairs then explode
# from the MASK HISTOGRAM (distinct masks << orders), never the fact.
# ---------------------------------------------------------------------------
@query(
    "brand_cooccurrence",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 25
    """,
)
def brand_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs come from the per-order brand bitmask histogram: explode
    the set bits of each distinct mask (i < j) and sum the mask's order
    count. Two earlier formulations were measured and rejected at sf10:
    the (order, brand)-distinct orderkey self-join (SMJ over a
    fact-sized side, ~20 s) and a collect_set pair expansion (the
    ObjectHashAggregate building 15M per-order sets cost 2-4x). The
    bitmask keeps the 16-byte (orderkey, long) shuffle as the ONLY
    fact-sized exchange, with map-side bit_or combine."""
    masks, dim = _order_brand_masks(spark, sf_dir)
    pairs = _mask_pairs(masks)
    da = dim.select(F.col("bit").alias("i"), F.col("p_brand").alias("brand_a"))
    db = dim.select(F.col("bit").alias("j"), F.col("p_brand").alias("brand_b"))
    return (
        pairs.join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .select("brand_a", "brand_b", "n_orders")
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(25)
    )


def _order_brand_masks(spark: SparkSession, sf_dir: str):
    """(mask histogram, brand dim) for the co-occurrence family.

    The brand dim assigns each distinct brand a bit index ORDERED BY
    BRAND, so bit i < bit j <=> brand_i < brand_j — pair expansion on
    (i < j) reproduces the oracle's (brand_a < brand_b) exactly. The
    25-row ordering window is a single tiny task; the dim broadcasts
    into the fact map side. bit_or is idempotent, so no distinct pass
    is needed: duplicate (order, brand) lineitems OR into the same bit,
    and partial aggregation collapses them before the one fact shuffle.
    Precondition ENFORCED below: <=64 distinct brands (the dataset has
    25). Past 64, shiftleft(1L, bit) wraps (shift is mod 64) so bit 64
    would alias bit 0 and counts would silently corrupt; a wider brand
    universe needs a multi-long mask, so raise instead. The brands are
    counted on every call (one tiny column-pruned job), so the guard
    always sees the current part table."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brands = p.select("p_brand").distinct()
    n_brands = brands.count()
    if n_brands > 64:
        raise ValueError(
            f"brand bitmask supports at most 64 distinct brands, found "
            f"{n_brands}: shiftleft(1L, bit) would wrap (shift mod 64) and "
            f"silently corrupt co-occurrence counts — use a multi-long mask"
        )
    dim = brands.select(
        "p_brand",
        (F.row_number().over(Window.orderBy("p_brand")) - 1).alias("bit"),
    )
    # ONE packed (p_partkey, bit) broadcast: folding the brand->bit dim
    # into the part side BEFORE the fact join halves the broadcast build
    # (8B+4B packed rows, no brand strings) and does one probe per
    # lineitem instead of two (measured ~6 s at sf10 vs chaining
    # broadcast(part) then broadcast(dim)).
    pb = p.join(F.broadcast(dim), "p_brand").select("p_partkey", "bit")
    fact = li.join(F.broadcast(pb), li.l_partkey == pb.p_partkey).select(
        "l_orderkey", F.expr("shiftleft(1L, bit)").alias("bm")
    )
    masks = (
        fact.groupBy("l_orderkey")
        .agg(F.bit_or("bm").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return masks, dim


def _mask_pairs(masks: DataFrame) -> DataFrame:
    """Explode each distinct mask's set bits into ordered (i, j) pairs
    and sum order counts. Runs over the mask HISTOGRAM (distinct brand
    sets, bounded by min(|orders|, 2^25)), entirely map-side until the
    <=300-row pair aggregate."""
    bits = masks.select(
        "cnt",
        F.expr(
            "filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)"
        ).alias("bits"),
    )
    e1 = bits.select("cnt", "bits", F.explode("bits").alias("i"))
    e2 = e1.select(
        "cnt",
        "i",
        F.explode(F.filter("bits", lambda j: j > F.col("i"))).alias("j"),
    )
    return e2.groupBy("i", "j").agg(F.sum("cnt").alias("n_orders"))


# ---------------------------------------------------------------------------
# Median absolute deviation per event type — the robust
# dispersion measure outlier pipelines prefer over stddev. Values enter
# as exact cents; both engines' linear-interpolated percentiles of
# integers are IEEE-identical (halving and adding longs below 2^53 is
# exact), so the medians need no rounding at all. Two grouped exact
# percentiles + one broadcast of the 5-row median table.
# ---------------------------------------------------------------------------
@query(
    "mad_event_values",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS median_cents
      FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           COUNT(*) AS n_events,
           m.median_cents,
           quantile_cont(abs(c.cents - m.median_cents), 0.5) AS mad_cents
    FROM c JOIN med m USING (event_type)
    GROUP BY c.event_type, m.median_cents
    ORDER BY c.event_type
    """,
)
def mad_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", 0.5).alias("median_cents")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "median_cents")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile(
                F.abs(F.col("cents") - F.col("median_cents")), 0.5
            ).alias("mad_cents"),
        )
        .select("event_type", "n_events", "median_cents", "mad_cents")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Z-score outlier screen per event type: mean/std from EXACT moment
# sums (same discipline as quantity_price_correlation — the squared
# moment rides decimal so no group size overflows it), then a
# map-side flag pass. Outlier thresholds computed identically on both
# engines because every input to the final IEEE expression is exact.
# ---------------------------------------------------------------------------
@query(
    "value_zscore_outliers",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(cents) AS DOUBLE) AS sx,
             CAST(SUM(CAST(cents AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0))) AS DOUBLE) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(m.n AS BIGINT) AS n_events,
           COUNT(*) FILTER (WHERE abs((c.cents - m.sx / m.n)
             / sqrt((m.sxx - m.sx * m.sx / m.n) / (m.n - 1))) > 3) AS n_outliers,
           round(MAX((c.cents - m.sx / m.n)
             / sqrt((m.sxx - m.sx * m.sx / m.n) / (m.n - 1))), 6) AS max_z
    FROM c JOIN m USING (event_type)
    GROUP BY c.event_type, m.n
    ORDER BY c.event_type
    """,
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    cd = F.col("cents").cast("decimal(18,0)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("sx"),
        F.sum(cd * cd).cast("double").alias("sxx"),
    )
    std = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    z = (F.col("cents") - F.col("sx") / F.col("n")) / std
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.count(F.when(F.abs(z) > 3, 1)).alias("n_outliers"),
            F.round(F.max(z), 6).alias("max_z"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            "n_outliers",
            "max_z",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (WAU per day) — the product-analytics
# staple whose naive form (distinct over a sliding window) re-scans the
# fact per day. Scale shape: contract the fact to DISTINCT (day, user)
# once, then EXPLODE each pair map-side into the <=7 window-end days it
# supports, and count distinct per day. The shuffle is |pairs| x 7,
# never |events| x window, and no nested-loop range join appears.
# ---------------------------------------------------------------------------
@query(
    "rolling_7d_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (
      SELECT CAST(u AS DATE) AS day FROM (
        SELECT unnest(generate_series((SELECT min(d) FROM du),
                                      (SELECT max(d) FROM du),
                                      INTERVAL 1 DAY)) AS u
      )
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           COUNT(DISTINCT du.user_id) AS wau
    FROM days JOIN du
      ON du.d <= days.day AND du.d > days.day - INTERVAL 7 DAY
    GROUP BY days.day ORDER BY days.day
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each active (day, user) covers exactly the 7 window-end days
    d..d+6, so the window membership EXPLODES map-side (7x fan-out, no
    join at all) instead of nested-loop-probing every spine day — the
    BNL range join evaluated |distinct user-days| x |days| predicates
    (~14 s at sf10; this shape is ~2x faster and |days|-independent).
    Only the global max day rides in as a one-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    hi = du.agg(F.max("d").alias("hi"))
    return (
        du.crossJoin(F.broadcast(hi))
        .select(
            F.explode(F.sequence("d", F.date_add("d", 6))).alias("day"),
            "user_id",
            "hi",
        )
        .filter(F.col("day") <= F.col("hi"))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Simple OLS regression per brand — slope/intercept of extendedprice on
# quantity, from the SAME exact scaled-long moment sums as the
# correlation query: every input to the closed-form (n·Σxy − ΣxΣy) /
# (n·Σx² − (Σx)²) expression is partitioning-independent, so both
# engines produce bit-equal coefficients. One fact shuffle (the brand
# aggregate); the part dim broadcasts.
# ---------------------------------------------------------------------------
@query(
    "brand_price_quantity_ols",
    oracle="""
    WITH m AS (
      SELECT p.p_brand AS brand,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sxy
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM m ORDER BY brand
    """,
)
def brand_price_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qx = F.round(F.col("l_quantity")).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(qx).cast("double").alias("sx"),
            (F.sum(pc).cast("double") / 100.0).alias("sy"),
            F.sum(qx * qx).cast("double").alias("sxx"),
            (F.sum(qx * pc).cast("double") / 100.0).alias("sxy"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Column profiling — the data-quality sweep every ingestion pipeline
# runs first: per column, row count, null count, distinct count, and
# min/max rendered as strings. ONE scan computes every column's
# aggregates in a single map-side pass (count_distinct rides Spark's
# partial-aggregation planning: one expand + shuffle, no per-column
# rescans); the wide 1-row result unpivots to the long (column, stats)
# shape with a stack projection.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


@query(
    "orders_column_profile",
    oracle="""
    SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(printf('%.2f', MIN(o_totalprice)) AS VARCHAR),
           CAST(printf('%.2f', MAX(o_totalprice)) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One UNION branch per profiled column, not one wide multi-distinct
    aggregate: N count_distincts in a single agg plan an Expand that
    multiplies every scanned row N+1 times through the partial
    aggregate. Per-column branches each scan ONLY their pruned column
    (parquet column pruning), run as parallel stages of one job, and
    each plans the cheap single-distinct two-phase aggregate."""
    o = _t(spark, sf_dir, "orders")

    def profile(c: str) -> DataFrame:
        col = F.col(c)
        mn, mx = F.min(col), F.max(col)
        if c == "o_totalprice":
            mn_s = F.format_string("%.2f", mn)
            mx_s = F.format_string("%.2f", mx)
        else:
            mn_s, mx_s = mn.cast("string"), mx.cast("string")
        return o.select(c).agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.count_distinct(col).alias("n_distinct"),
            mn_s.alias("min_str"),
            mx_s.alias("max_str"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_str",
            "max_str",
        )

    out = profile(_PROFILE_COLS[0])
    for c in _PROFILE_COLS[1:]:
        out = out.unionByName(profile(c))
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Per-type min-max normalization of event values — feature scaling in
# exact cents: the (v - min) and (max - min) terms are long subtractions
# and only the final divide is IEEE, identical on both engines. The
# per-type extrema come from a map-side partial aggregate (5 groups)
# BROADCAST back onto the fact — a PARTITION BY event_type window would
# shuffle every row into one task per type (5 types = 5 tasks, the rest
# of the cluster idle); the agg+broadcast shape computes the same thing
# with zero fact shuffle and no skew, at any scale.
# ---------------------------------------------------------------------------
@query(
    "minmax_scaled_event_values",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_id, event_type, cents,
             MIN(cents) OVER (PARTITION BY event_type) AS mn,
             MAX(cents) OVER (PARTITION BY event_type) AS mx
      FROM c
    )
    SELECT event_id, event_type,
           round(CASE WHEN mx > mn
                 THEN CAST(cents - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
                 ELSE 0.5 END, 6) AS scaled
    FROM w ORDER BY event_id
    """,
)
def minmax_scaled_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    extrema = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    scaled = (
        ev.join(F.broadcast(extrema), ev.event_type == extrema.et)
        .select(
            "event_id",
            "event_type",
            F.round(
                F.when(
                    F.col("mx") > F.col("mn"),
                    (F.col("cents") - F.col("mn")).cast("double")
                    / (F.col("mx") - F.col("mn")).cast("double"),
                ).otherwise(0.5),
                6,
            ).alias("scaled"),
        )
    )
    return scaled.orderBy("event_id")


# ---------------------------------------------------------------------------
# Bloom-filter membership — the third mergeable-sketch family after KMV
# (cardinality) and CMS (frequency): build an 18-word x 60-bit filter
# (1080 bits, k=3 md5-derived positions) over source src0's document
# fingerprints, then test every OTHER source's fingerprints against it
# and report estimated vs true membership (false positives are the
# sketch's documented error). 60-bit words because DuckDB's left shift
# is overflow-CHECKED (1::BIGINT << 63 raises where Spark wraps), so
# sticking below bit 60 keeps the bitmap arithmetic engine-identical.
# Scale shape: the filter is <= 18 rows bit_or-aggregated in one pass
# and BROADCAST to the probe side — membership testing never shuffles
# the corpus.
# ---------------------------------------------------------------------------
_BLOOM_BITS = 1080
_BLOOM_WORD = 60


def _duck_bloom_pos(i: int, fp: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('bl{i}|' || {fp}), 1, 8)) AS BIGINT) % {_BLOOM_BITS}"
    )


@query(
    "bloom_membership_src0",
    oracle=f"""
    WITH fps AS (
      SELECT DISTINCT source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    pos AS (
      SELECT source, fp, p FROM fps, LATERAL (
        SELECT unnest([{", ".join(_duck_bloom_pos(i, "fp") for i in range(3))}]) AS p
      )
    ),
    bloom AS (
      SELECT p // {_BLOOM_WORD} AS j,
             bit_or(1::BIGINT << (p % {_BLOOM_WORD})) AS word
      FROM pos WHERE source = 'src0' GROUP BY 1
    ),
    probe AS (
      SELECT f.source, f.fp,
             COUNT(*) FILTER (
               WHERE b.word IS NOT NULL
                 AND (b.word & (1::BIGINT << (p.p % {_BLOOM_WORD}))) != 0
             ) AS hits
      FROM fps f
      JOIN pos p ON f.source = p.source AND f.fp = p.fp
      LEFT JOIN bloom b ON p.p // {_BLOOM_WORD} = b.j
      WHERE f.source <> 'src0'
      GROUP BY 1, 2
    ),
    truth AS (SELECT DISTINCT fp FROM fps WHERE source = 'src0')
    SELECT probe.source,
           COUNT(*) AS n_fps,
           COUNT(*) FILTER (WHERE hits = 3) AS est_members,
           COUNT(*) FILTER (WHERE t.fp IS NOT NULL) AS true_members,
           COUNT(*) FILTER (WHERE hits = 3 AND t.fp IS NULL) AS false_positives
    FROM probe LEFT JOIN truth t ON probe.fp = t.fp
    GROUP BY 1 ORDER BY 1
    """,
)
def bloom_membership_src0(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.functions.text import doc_fingerprint
    from wopen_spark.queries.registry import _spread

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    fps = (
        d.select("source", doc_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    pos_arr = F.array(
        *[
            F.conv(
                F.md5(F.concat(F.lit(f"bl{i}|"), F.col("fp"))).substr(1, 8), 16, 10
            ).cast("long")
            % _BLOOM_BITS
            for i in range(3)
        ]
    )
    pos = fps.select("source", "fp", F.explode(pos_arr).alias("p"))
    bloom = (
        pos.filter(F.col("source") == "src0")
        .groupBy((F.col("p") / _BLOOM_WORD).cast("long").alias("j"))
        .agg(
            # PySpark's shiftleft wrapper rejects a Column shift amount;
            # the SQL expression form takes one fine
            F.bit_or(F.expr(f"shiftleft(1L, cast(p % {_BLOOM_WORD} as int))")).alias(
                "word"
            )
        )
    )
    probe = (
        pos.filter(F.col("source") != "src0")
        .join(
            F.broadcast(bloom),
            (F.col("p") / _BLOOM_WORD).cast("long") == F.col("j"),
            "left",
        )
        .groupBy("source", "fp")
        .agg(
            F.sum(
                F.when(
                    F.col("word").isNotNull()
                    & (
                        F.col("word").bitwiseAND(
                            F.expr(f"shiftleft(1L, cast(p % {_BLOOM_WORD} as int))")
                        )
                        != 0
                    ),
                    1,
                ).otherwise(0)
            ).alias("hits")
        )
    )
    truth = (
        fps.filter(F.col("source") == "src0")
        .select(F.col("fp").alias("tfp"))
        .distinct()
    )
    return (
        probe.join(F.broadcast(truth), probe.fp == truth.tfp, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(F.when(F.col("hits") == 3, 1).otherwise(0)).alias("est_members"),
            F.sum(F.when(F.col("tfp").isNotNull(), 1).otherwise(0)).alias(
                "true_members"
            ),
            F.sum(
                F.when((F.col("hits") == 3) & F.col("tfp").isNull(), 1).otherwise(0)
            ).alias("false_positives"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# KMV sketch MERGE: the union-cardinality estimate for every pair of
# event types, computed by merging the per-type min-k sketches — never
# re-scanning raw events for a pair. min-k(A ∪ B) == min-k(min-k(A) ∪
# min-k(B)) is the mergeability identity that makes KMV a distributed
# sketch; the estimate and the exact union (inclusion-exclusion over
# the distinct (type, user) contraction) are reported side by side.
# All sketch arithmetic is integer/md5-exact, so the merged estimates
# hash bit-equal across engines.
# ---------------------------------------------------------------------------
@query(
    "kmv_union_event_types",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    sk AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h
      ) WHERE rn <= {_KMV_K}
    ),
    merged AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, u.hv FROM
        (SELECT DISTINCT event_type FROM sk) a
        JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
        JOIN LATERAL (
          SELECT DISTINCT hv FROM sk
          WHERE sk.event_type IN (a.event_type, b.event_type)
        ) u ON true
    ),
    msk AS (
      SELECT type_a, type_b, MAX(hv) AS kth, COUNT(*) AS k_used FROM (
        SELECT type_a, type_b, hv,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
        FROM merged
      ) WHERE rn <= {_KMV_K} GROUP BY 1, 2
    ),
    tu AS (SELECT DISTINCT event_type, user_id FROM events),
    pern AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS ni
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT m.type_a, m.type_b,
           (pa.n + pb.n - COALESCE(i.ni, 0)) AS n_exact_union,
           CASE WHEN m.k_used < {_KMV_K} THEN CAST(m.k_used AS DOUBLE)
                ELSE round((m.k_used - 1) * {_KMV_SCALE!r} / m.kth, 6)
           END AS kmv_union_estimate
    FROM msk m
    JOIN pern pa ON m.type_a = pa.event_type
    JOIN pern pb ON m.type_b = pb.event_type
    LEFT JOIN inter i ON m.type_a = i.type_a AND m.type_b = i.type_b
    ORDER BY 1, 2
    """,
)
def kmv_union_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # ONE fact-wide distinct: the (type, user) contraction feeds the
    # sketch build AND the exact-union ground truth below — hashing per
    # DISTINCT pair (6M at sf10) instead of per event row (60M) also
    # cuts the md5 work 10x. distinct-after-hash is preserved by the
    # second (cheap, pair-sized) distinct so a hash collision dedups
    # exactly as the oracle's DISTINCT(type, hash) does.
    tu = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    h = tu.select(
        "event_type",
        F.conv(
            F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))).substr(
                1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = h.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    ).select("event_type", "hv")
    # merge: pair the COMPACT sketches (<= k rows per type) — both sides
    # broadcastable regardless of corpus size
    a = sk.select(F.col("event_type").alias("type_a"), F.col("hv").alias("hv_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("hv").alias("hv_b"))
    ta = sk.select(F.col("event_type").alias("type_a")).distinct()
    tb = sk.select(F.col("event_type").alias("type_b")).distinct()
    pairs = ta.join(F.broadcast(tb), ta.type_a < tb.type_b)
    merged = (
        pairs.join(
            F.broadcast(sk),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "hv")
        .distinct()
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("hv")
    msk = (
        merged.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(F.max("hv").alias("kth"), F.count(F.lit(1)).alias("k_used"))
    )
    pern = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tub = tu.select(F.col("event_type").alias("tb2"), F.col("user_id").alias("uid2"))
    inter = (
        tu.join(
            tub,
            (tu.user_id == tub.uid2) & (tu.event_type < tub.tb2),
        )
        .groupBy(F.col("event_type").alias("ia"), F.col("tb2").alias("ib"))
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    pa = pern.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    pb = pern.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        F.round((F.col("k_used") - 1) * F.lit(_KMV_SCALE) / F.col("kth"), 6)
    )
    return (
        msk.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .join(
            F.broadcast(inter),
            (msk.type_a == inter.ia) & (msk.type_b == inter.ib),
            "left",
        )
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))).alias(
                "n_exact_union"
            ),
            est.alias("kmv_union_estimate"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Linear interpolation of a sparse daily series — the resample().
# interpolate() counterpart to the zero-fill and LOCF queries. Known
# days carry exact cents; a missing day takes
# prev + round((next-prev) * gap_pos / gap_len): one IEEE
# multiply-divide rounded half-up over exact longs, identical in both
# engines. Edge days (before the first / after the last known value)
# stay NULL — interpolation, not extrapolation. The carry windows are
# unpartitioned BUT the frame is the broadcast-joined day spine
# (hundreds of rows), never the event stream — at 100 TB the heavy
# aggregation happened before the window, on the grouped exchange.
# ---------------------------------------------------------------------------
@query(
    "daily_revenue_interpolated",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE event_type = 'purchase' AND user_id % 31 = 7
      GROUP BY d
    ),
    days AS (
      SELECT CAST(u AS DATE) AS day FROM (
        SELECT unnest(generate_series((SELECT min(d) FROM daily),
                                      (SELECT max(d) FROM daily),
                                      INTERVAL 1 DAY)) AS u
      )
    ),
    sp AS (
      SELECT day, cents,
             MAX(CASE WHEN cents IS NOT NULL THEN day END) OVER w_bwd AS pd,
             last_value(cents IGNORE NULLS) OVER w_bwd AS pc,
             MIN(CASE WHEN cents IS NOT NULL THEN day END) OVER w_fwd AS nd,
             first_value(cents IGNORE NULLS) OVER w_fwd AS nc
      FROM days LEFT JOIN daily ON day = d
      WINDOW w_bwd AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_fwd AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CASE
             WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE) / 100.0
             WHEN pc IS NOT NULL AND nc IS NOT NULL THEN
               CAST(pc + CAST(round(CAST(nc - pc AS DOUBLE)
                    * (day - pd) / (nd - pd)) AS BIGINT) AS DOUBLE) / 100.0
           END AS revenue
    FROM sp ORDER BY day
    """,
)
def daily_revenue_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 31 == 7)
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    spine = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    sp = spine.join(F.broadcast(daily), spine.day == daily.d, "left")
    w_bwd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    carried = sp.select(
        "day",
        "cents",
        F.max(known_day).over(w_bwd).alias("pd"),
        F.last("cents", ignorenulls=True).over(w_bwd).alias("pc"),
        F.min(known_day).over(w_fwd).alias("nd"),
        F.first("cents", ignorenulls=True).over(w_fwd).alias("nc"),
    )
    interp = F.col("pc") + F.round(
        (F.col("nc") - F.col("pc")).cast("double")
        * F.datediff(F.col("day"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd"))
    ).cast("long")
    return (
        carried.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.when(
                F.col("cents").isNotNull(), F.col("cents").cast("double") / 100.0
            )
            .when(
                F.col("pc").isNotNull() & F.col("nc").isNotNull(),
                interp.cast("double") / 100.0,
            )
            .alias("revenue"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Bitmap-index intersection — the OLAP bitmap-join acceleration: build a
# 60-bit-word bitmap of user ids PER EVENT TYPE (bit_or aggregate over
# word index), then intersect cohorts word-wise with AND + popcount —
# |clickers ∩ purchasers| without ever joining raw user rows. The
# bitmap tables are |user_space|/60 rows, the intersection is a tiny
# equi-join over word indexes, and the result is pinned against the
# exact INTERSECT count. 60-bit words keep shifts inside DuckDB's
# overflow-checked range (see bloom_membership_src0).
# ---------------------------------------------------------------------------
@query(
    "bitmap_intersect_clickers_purchasers",
    oracle="""
    WITH bm AS (
      SELECT event_type, user_id // 60 AS j,
             bit_or(1::BIGINT << (user_id % 60)) AS word
      FROM (SELECT DISTINCT event_type, user_id FROM events
            WHERE event_type IN ('click', 'purchase'))
      GROUP BY 1, 2
    ),
    inter AS (
      SELECT CAST(COALESCE(SUM(bit_count(c.word & p.word)), 0) AS BIGINT) AS n_bitmap
      FROM (SELECT j, word FROM bm WHERE event_type = 'click') c
      JOIN (SELECT j, word FROM bm WHERE event_type = 'purchase') p USING (j)
    ),
    exact AS (
      SELECT COUNT(*) AS n_exact FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
      )
    )
    SELECT n_bitmap, n_exact FROM inter, exact
    """,
)
def bitmap_intersect_clickers_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    bm = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy(
            "event_type", (F.col("user_id") / 60).cast("long").alias("j")
        )
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(user_id % 60 as int))")).alias(
                "word"
            )
        )
    )
    c = bm.filter(F.col("event_type") == "click").select("j", F.col("word").alias("cw"))
    p = bm.filter(F.col("event_type") == "purchase").select(
        F.col("j").alias("jp"), F.col("word").alias("pw")
    )
    inter = (
        c.join(p, c.j == p.jp)
        .agg(
            F.coalesce(
                F.sum(F.bit_count(F.col("cw").bitwiseAND(F.col("pw")))), F.lit(0)
            )
            .cast("long")
            .alias("n_bitmap")
        )
    )
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    exact = (
        clickers.intersect(purchasers)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return inter.join(F.broadcast(exact))


# ---------------------------------------------------------------------------
# Top-k similar users by session-path profile — distributed top-k
# similarity search with SELECTIVE-FEATURE pruning (the REPOSE/prefix-
# filter idea: candidates must share a RARE feature, so the pair space
# is bounded by rare-feature bucket sizes, never |users|²). Profile =
# the user's distinct session trigrams; rare = trigrams whose user
# count times 50 is at most the profiled-user count (integer-exact
# threshold, scale-relative). Exact Jaccard then scores only the
# candidates, and the top-20 ordering ties break on the user ids.
# ---------------------------------------------------------------------------
@query(
    "similar_user_paths",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ),
    tri AS (
      SELECT DISTINCT user_id,
             event_type || '>' || LEAD(event_type, 1) OVER w || '>' || LEAD(event_type, 2) OVER w AS tg
      FROM sess
      WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    ),
    tri2 AS (SELECT user_id, tg FROM tri WHERE tg IS NOT NULL),
    sets AS (SELECT user_id, list(tg ORDER BY tg) AS tgs FROM tri2 GROUP BY 1),
    nu AS (SELECT COUNT(*) AS n_users FROM sets),
    df AS (SELECT tg, COUNT(*) AS dfc FROM tri2 GROUP BY 1),
    rare AS (SELECT tg FROM df, nu WHERE dfc * 50 <= n_users),
    cand AS (
      SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      FROM tri2 a JOIN rare r ON a.tg = r.tg
      JOIN tri2 b ON b.tg = r.tg AND a.user_id < b.user_id
    )
    SELECT c.ua, c.ub,
           round(len(list_intersect(sa.tgs, sb.tgs))::DOUBLE
                 / len(list_distinct(list_concat(sa.tgs, sb.tgs)))::DOUBLE, 6)
             AS jaccard
    FROM cand c
    JOIN sets sa ON c.ua = sa.user_id
    JOIN sets sb ON c.ub = sb.user_id
    ORDER BY jaccard DESC, ua, ub
    LIMIT 20
    """,
)
def similar_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wrun)
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = (
        sess.select(
            "user_id",
            F.concat_ws(
                ">",
                F.col("event_type"),
                F.lead("event_type", 1).over(w2),
                F.lead("event_type", 2).over(w2),
            ).alias("tg"),
            F.lead("event_type", 2).over(w2).alias("_s3"),
        )
        .filter(F.col("_s3").isNotNull())
        .select("user_id", "tg")
        .distinct()
        # materialized ONCE: tri feeds four consumers (sets, df counts,
        # both sides of the candidate self-join) — uncached, each would
        # re-run the sessionize + trigram window pipeline over the full
        # events fact (4x two window sorts at sf10). The distinct
        # (user, trigram) set itself is tiny relative to the fact.
        .localCheckpoint()
    )
    sets = tri.groupBy("user_id").agg(F.array_sort(F.collect_list("tg")).alias("tgs"))
    n_users = sets.agg(F.count(F.lit(1)).alias("n_users"))
    df_ = tri.groupBy("tg").agg(F.count(F.lit(1)).alias("dfc"))
    rare = (
        df_.join(F.broadcast(n_users))
        .filter(F.col("dfc") * 50 <= F.col("n_users"))
        .select("tg")
    )
    a = tri.join(F.broadcast(rare), "tg").select(
        "tg", F.col("user_id").alias("ua")
    )
    b = tri.join(F.broadcast(rare), "tg").select(
        F.col("tg").alias("tgb"), F.col("user_id").alias("ub")
    )
    cand = (
        a.join(b, (a.tg == b.tgb) & (a.ua < b.ub))
        .select("ua", "ub")
        .distinct()
    )
    sa = sets.select(F.col("user_id").alias("ua"), F.col("tgs").alias("tgs_a"))
    sb = sets.select(F.col("user_id").alias("ub"), F.col("tgs").alias("tgs_b"))
    jac = F.round(
        F.size(F.array_intersect("tgs_a", "tgs_b")).cast("double")
        / F.size(F.array_union("tgs_a", "tgs_b")).cast("double"),
        6,
    )
    return (
        cand.join(sa, "ua")
        .join(sb, "ub")
        .select("ua", "ub", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), "ua", "ub")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Winsorization: clip event values at the per-type exact p05/p95 before
# aggregating — the robust-mean preprocessing that keeps a fat tail
# from dominating a feature. Interpolated percentiles over exact cents
# are IEEE-identical on both engines (halving/adding longs below 2^53);
# the clipped mean aggregates scaled-long units. One percentile pass,
# bounds broadcast back, one rollup.
# ---------------------------------------------------------------------------
@query(
    "winsorized_event_values",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    b AS (
      SELECT event_type,
             quantile_cont(cents, 0.05) AS lo,
             quantile_cont(cents, 0.95) AS hi
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, COUNT(*) AS n_events,
           round(b.lo, 6) AS p05_cents, round(b.hi, 6) AS p95_cents,
           COUNT(*) FILTER (WHERE c.cents < b.lo OR c.cents > b.hi) AS n_clipped,
           round(CAST(SUM(CAST(round(GREATEST(LEAST(CAST(c.cents AS DOUBLE), b.hi), b.lo) * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*) / 100.0, 6) AS winsorized_mean
    FROM c JOIN b USING (event_type)
    GROUP BY 1, b.lo, b.hi ORDER BY 1
    """,
)
def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    b = ev.groupBy("event_type").agg(
        F.percentile("cents", 0.05).alias("lo"),
        F.percentile("cents", 0.95).alias("hi"),
    )
    clipped = F.greatest(
        F.least(F.col("cents").cast("double"), F.col("hi")), F.col("lo")
    )
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    (F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_clipped"),
            (
                F.round(
                    F.sum(F.round(clipped * 100).cast("long")).cast("double")
                    / 100.0
                    / F.count(F.lit(1))
                    / 100.0,
                    6,
                )
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            "n_events",
            F.round(F.col("lo"), 6).alias("p05_cents"),
            F.round(F.col("hi"), 6).alias("p95_cents"),
            "n_clipped",
            "winsorized_mean",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality audits. event_order_audit counts, per user, adjacent
# time-ordered pairs whose event_id goes BACKWARDS — the out-of-order
# ingestion signal a streaming pipeline watches. fk_integrity_audit
# counts orphans for each foreign-key relationship via anti-join
# aggregates (dims broadcast; facts never shuffle for a join).
# ---------------------------------------------------------------------------
@query(
    "event_order_audit",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE prev_id IS NOT NULL AND event_id < prev_id)
             AS n_inversions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_id
      FROM events
    ) GROUP BY 1 HAVING n_inversions > 0 OR user_id % 100 = 0
    ORDER BY 1
    """,
)
def event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("prev_id").isNotNull()
                    & (F.col("event_id") < F.col("prev_id")),
                    1,
                ).otherwise(0)
            ).alias("n_inversions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter((F.col("n_inversions") > 0) | (F.col("user_id") % 100 == 0))
        .orderBy("user_id")
    )


@query(
    "fk_integrity_audit",
    oracle="""
    SELECT 'orders.o_custkey -> customer' AS relationship,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             AS n_orphans,
           (SELECT COUNT(*) FROM orders) AS n_rows
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'supplier.s_nationkey -> nation',
           (SELECT COUNT(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)),
           (SELECT COUNT(*) FROM supplier)
    ORDER BY relationship
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(rel: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
        # ONE pass over the fact: a left join against the distinct key set
        # yields both the row count and the orphan count (null pk after the
        # join == NOT EXISTS) in a single aggregate — the anti-join + count
        # formulation scanned the fact twice. No forced broadcast: the dim
        # key column may itself be fact-sized (lineitem -> orders is 15M
        # keys at sf10; a broadcast hint there is an executor OOM at scale)
        # — AQE broadcasts the genuinely small ones (nation, customer).
        # shuffle_hash on the key side: sort-merge would sort the full
        # fact just to probe key existence; the hash build holds only
        # |dim|/tasks distinct keys per task.
        joined = fact.select(F.col(fk).alias("_fk")).join(
            dim.select(F.col(pk).alias("_pk")).distinct().hint("shuffle_hash"),
            F.col("_fk") == F.col("_pk"),
            "left",
        )
        return joined.agg(
            F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        ).select(F.lit(rel).alias("relationship"), "n_orphans", "n_rows")

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        audit("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey")
        .unionByName(
            audit("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
        )
        .unionByName(
            audit("supplier.s_nationkey -> nation", s, "s_nationkey", n, "n_nationkey")
        )
        .orderBy("relationship")
    )


# ---------------------------------------------------------------------------
# Month-over-month revenue growth — lag over the monthly aggregate with
# the ratio in exact cents (single IEEE divide, rounded): the standard
# period-over-period report. The window runs over |months| rows, far
# after the one fact aggregate.
# ---------------------------------------------------------------------------
@query(
    "monthly_revenue_mom",
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           round(CASE WHEN LAG(cents) OVER (ORDER BY month) > 0
             THEN (CAST(cents AS DOUBLE) - CAST(LAG(cents) OVER (ORDER BY month) AS DOUBLE))
                  / CAST(LAG(cents) OVER (ORDER BY month) AS DOUBLE)
             END, 6) AS mom_growth
    FROM m ORDER BY month
    """,
)
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("month")
    prev = F.lag("cents").over(w)
    return (
        m.select(
            "month",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            F.round(
                F.when(
                    prev > 0,
                    (F.col("cents").cast("double") - prev.cast("double"))
                    / prev.cast("double"),
                ),
                6,
            ).alias("mom_growth"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# ABC (Pareto 80/95) classification of suppliers by revenue share —
# class membership decided in EXACT integer arithmetic: cumulative
# cents * 100 <= total * 80 means "within the top 80%", so no double
# rounding can ever flip a supplier across the class boundary on one
# engine but not the other. One fact aggregate, one cumulative window
# over |suppliers| rows.
# ---------------------------------------------------------------------------
@query(
    "supplier_abc_classes",
    oracle="""
    WITH s AS (
      SELECT l_suppkey AS suppkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT suppkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS total
      FROM s
    )
    SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_suppliers,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS class_revenue
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def supplier_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        ).alias("cents")
    )
    w_cum = Window.orderBy(F.desc("cents"), "suppkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    c = s.select(
        "suppkey",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("total"),
    )
    cls = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        c.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.sum("cents").cast("double") / 100.0).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Brand co-occurrence COSINE similarity — the item-item similarity a
# co-basket recommender ranks by: cos(a,b) = n_ab / sqrt(n_a * n_b)
# over order-level occurrence counts. Numerators come from the same
# bitmask-histogram pair expansion as brand_cooccurrence; denominators
# (per-brand order counts) fall out of a single-bit explode of the SAME
# histogram — no second fact pass; sqrt of an exact integer product is
# correctly rounded IEEE on both engines.
# ---------------------------------------------------------------------------
@query(
    "brand_cooccurrence_cosine",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_b AS (SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE)
                 / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6) AS cosine
    FROM pairs p
    JOIN n_b na ON p.brand_a = na.p_brand
    JOIN n_b nb ON p.brand_b = nb.p_brand
    ORDER BY cosine DESC, brand_a, brand_b
    LIMIT 25
    """,
)
def brand_cooccurrence_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # masks feeds both the pair numerators and the per-brand
    # denominators; the two branches share the identical mask-histogram
    # exchange, which physical planning dedupes via ReusedExchange
    # (plan-pinned in tests/test_plans.py) — no persist/unpersist
    # lifecycle needed.
    masks, dim = _order_brand_masks(spark, sf_dir)
    pairs = _mask_pairs(masks).withColumnRenamed("n_orders", "n_ab")
    n_b = (
        masks.select(
            "cnt",
            F.explode(
                F.expr(
                    "filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)"
                )
            ).alias("bit"),
        )
        .groupBy("bit")
        .agg(F.sum("cnt").alias("n"))
    )
    da = dim.select(F.col("bit").alias("i"), F.col("p_brand").alias("brand_a"))
    db = dim.select(F.col("bit").alias("j"), F.col("p_brand").alias("brand_b"))
    na = n_b.select(F.col("bit").alias("i"), F.col("n").alias("na"))
    nb = n_b.select(F.col("bit").alias("j"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "i")
        .join(F.broadcast(nb), "j")
        .join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "brand_a", "brand_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Conversion rate with Wilson 95% interval per market segment — the
# statistically honest way to compare segment conversion when counts
# differ by orders of magnitude. The Wilson bounds use only +,-,*,/ and
# sqrt (all correctly-rounded IEEE), with z=1.96 a shared literal, so
# both engines produce bit-identical intervals from the exact integer
# counts. Users attribute to segments via the broadcast customer dim.
# ---------------------------------------------------------------------------
@query(
    "segment_conversion_wilson",
    oracle="""
    WITH active AS (SELECT DISTINCT user_id FROM events),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    seg AS (
      SELECT c.c_mktsegment AS segment, a.user_id,
             CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS converted
      FROM active a
      JOIN customer c ON a.user_id = c.c_custkey
      LEFT JOIN buyers b ON a.user_id = b.user_id
    ),
    agg AS (
      SELECT segment, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS x
      FROM seg GROUP BY 1
    )
    SELECT segment, n, x,
           round((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                  - 1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
           round((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                  + 1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
    FROM agg ORDER BY segment
    """,
)
def segment_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    active = ev.select("user_id").distinct()
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("buyer_id"))
        .distinct()
    )
    seg = (
        active.join(F.broadcast(c), active.user_id == c.c_custkey)
        .join(F.broadcast(buyers), active.user_id == buyers.buyer_id, "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("buyer_id").isNotNull(), 1).otherwise(0).alias("converted"),
        )
    )
    agg = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    p = F.col("x").cast("double") / F.col("n")
    z2 = 1.96 * 1.96
    center = p + z2 / (2 * F.col("n"))
    margin = 1.96 * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return agg.select(
        "segment",
        "n",
        "x",
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Time-to-second-purchase: per user, the gap between the first and
# second purchase; reported as exact-second percentiles — the repeat-
# behaviour latency metric. The per-user reduction is a top-2 window
# (WindowGroupLimit prunes map-side); gaps are integer seconds.
# ---------------------------------------------------------------------------
@query(
    "second_purchase_latency",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ),
    gap AS (
      SELECT a.user_id,
             floor(epoch(b.ts))::BIGINT - floor(epoch(a.ts))::BIGINT AS gap_sec
      FROM p a JOIN p b ON a.user_id = b.user_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT COUNT(*) AS n_repeat_users,
           round(quantile_cont(gap_sec, 0.5), 6) AS p50_sec,
           round(quantile_cont(gap_sec, 0.9), 6) AS p90_sec
    FROM gap
    """,
)
def second_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    first = ranked.filter(F.col("rn") == 1).select("user_id", F.col("ts").alias("t1"))
    second = ranked.filter(F.col("rn") == 2).select(
        F.col("user_id").alias("uid2"), F.col("ts").alias("t2")
    )
    gap = first.join(second, first.user_id == second.uid2).select(
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).alias("gap_sec")
    )
    return gap.agg(
        F.count(F.lit(1)).alias("n_repeat_users"),
        F.round(F.percentile("gap_sec", 0.5), 6).alias("p50_sec"),
        F.round(F.percentile("gap_sec", 0.9), 6).alias("p90_sec"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over daily revenue — the day where the
# cumulative deviation from the global mean peaks. Multiplying the
# classic statistic through by n makes it INTEGER-exact:
# score(t) = n * cumsum(t) - t * total  (all longs), so the argmax day
# is engine- and partitioning-independent with no mean rounding
# anywhere. The daily aggregate is the only fact-scale shuffle; the
# cumulative window runs over |days| rows.
# ---------------------------------------------------------------------------
@query(
    "revenue_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT day, cents,
             SUM(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             SUM(cents) OVER () AS total,
             COUNT(*) OVER () AS n
      FROM d
    ),
    scored AS (
      SELECT day, n * cum - t * total AS score FROM c
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           CAST(abs(score) AS BIGINT) AS abs_score
    FROM scored
    ORDER BY abs(score) DESC, day
    LIMIT 1
    """,
)
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    c = d.select(
        "day",
        F.sum("cents").over(w_cum).alias("cum"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("cents").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    scored = c.select(
        F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
        (F.col("n") * F.col("cum") - F.col("t") * F.col("total")).alias("score"),
    )
    return (
        scored.select(
            "changepoint_day", F.abs(F.col("score")).cast("long").alias("abs_score")
        )
        .orderBy(F.desc("abs_score"), "changepoint_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Gini coefficient of order values — the inequality summary over the
# revenue distribution, from the sorted-rank formula
# G = 2·Σ(i·x_i) / (n·Σx) - (n+1)/n with x ascending. Both Σ terms are
# exact long sums (rank times cents), so the single final division is
# the only floating step and is identical on both engines. The rank is
# a global window over the CONTRACTED per-order values — at 100 TB,
# swap in a distributed rank (sort + zipWithIndex-style offsets) for
# the same arithmetic.
# ---------------------------------------------------------------------------
@query(
    "order_value_gini",
    oracle="""
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY round(o_totalprice * 100), o_orderkey) AS i
      FROM orders
    )
    SELECT COUNT(*) AS n_orders,
           round(2.0 * CAST(SUM(i * cents) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM x
    """,
)
def order_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini needs every order's GLOBAL value rank; a bare
    Window.orderBy row_number funnels the whole fact through ONE task
    (37 s at sf10, a non-starter at 100 TB). bucketed_row_number
    two-phases it: $10k value-range buckets rank in parallel, a tiny
    prefix-sum of per-bucket counts restores exact global ranks."""
    from wopen_spark.operators.ranking import bucketed_row_number

    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = bucketed_row_number(
        o, F.expr("cents div 1000000"), ["cents", "o_orderkey"], out="i"
    )
    # Σ(i·cents) exceeds the long range past ~1e6 rows (i ~ n, so the
    # sum grows ~n²·cents); accumulate in decimal(38,0) — exact like
    # DuckDB's HUGEINT widening — and convert once to double.
    return ranked.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            2.0
            * F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).cast(
                "double"
            )
            / (F.count(F.lit(1)) * F.sum("cents").cast("double"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Diurnal profile: events per hour-of-day per type — the load-shape
# report behind capacity planning and bot detection. One aggregate
# shuffle on the tiny (type, hour) key space.
# ---------------------------------------------------------------------------
@query(
    "hourly_profile_event_types",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def hourly_profile_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.hour("ts").cast("long").alias("hour_of_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("event_type", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding of brand against line revenue — the ML
# categorical encoding that avoids self-leakage: each line's feature is
# the mean revenue of its brand EXCLUDING itself, (sum - x) / (n - 1).
# Numerator and n stay exact longs (the window carries per-brand sums),
# the one divide is engine-identical, and singleton brands emit NULL
# (no peers to average). One broadcast dim join + one brand window.
# ---------------------------------------------------------------------------
@query(
    "brand_loo_target_encoding",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_orderkey % 50 = 0
    ),
    w AS (
      SELECT l_orderkey, l_linenumber, p_brand, cents,
             SUM(cents) OVER (PARTITION BY p_brand) AS s,
             COUNT(*) OVER (PARTITION BY p_brand) AS n
      FROM li
    )
    SELECT l_orderkey, l_linenumber, p_brand,
           round(CASE WHEN n > 1
             THEN CAST(s - cents AS DOUBLE) / (n - 1) / 100.0 END, 6) AS loo_mean
    FROM w ORDER BY l_orderkey, l_linenumber
    """,
)
def brand_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("p_brand")
    return (
        base.withColumn("s", F.sum("cents").over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_brand",
            F.round(
                F.when(
                    F.col("n") > 1,
                    (F.col("s") - F.col("cents")).cast("double")
                    / (F.col("n") - 1)
                    / 100.0,
                ),
                6,
            ).alias("loo_mean"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Lag-feature extraction: per event, the previous two values of the
# same user — the window form every sequence-model feature pipeline
# uses. Exact cents; one user window; output restricted to a
# deterministic user slice to keep the gate frame bounded.
# ---------------------------------------------------------------------------
@query(
    "event_lag_features",
    oracle="""
    SELECT event_id, user_id, cents, lag1_cents, lag2_cents FROM (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             LAG(CAST(round(value * 100) AS BIGINT), 1) OVER w AS lag1_cents,
             LAG(CAST(round(value * 100) AS BIGINT), 2) OVER w AS lag2_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE user_id % 50 = 0
    ORDER BY event_id
    """,
)
def event_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("lag1_cents", F.lag("cents", 1).over(w))
        .withColumn("lag2_cents", F.lag("cents", 2).over(w))
        .filter(F.col("user_id") % 50 == 0)
        .select("event_id", "user_id", "cents", "lag1_cents", "lag2_cents")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts + row
# probabilities): per user-adjacent pair, how often type A is followed
# by type B. Counts are exact; the row-normalized probability is one
# division over broadcast row totals. The lag rides one user window;
# the matrix is |types|² rows.
# ---------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH steps AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             event_type AS next_type
      FROM events
    ),
    m AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM steps WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n FROM m GROUP BY 1)
    SELECT m.prev_type, m.next_type, m.n,
           round(CAST(m.n AS DOUBLE) / CAST(t.row_n AS DOUBLE), 6) AS p
    FROM m JOIN tot t USING (prev_type)
    ORDER BY m.prev_type, m.next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    m = steps.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    tot = m.groupBy("prev_type").agg(F.sum("n").cast("long").alias("row_n"))
    return (
        m.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("row_n").cast("double"), 6
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency/frequency/monetary quintiles per customer —
# the classic CRM scoring. Each dimension ranks with NTILE(5) over a
# fully deterministic order (exact days/counts/cents, custkey
# tie-break), so every customer's segment string is engine-identical.
# Summary rows keep the gate frame tiny while the scoring itself runs
# per customer.
# ---------------------------------------------------------------------------
@query(
    "rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS ck,
             datediff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2002-01-01') AS rec_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT ck,
             NTILE(5) OVER (ORDER BY rec_days, ck) AS r,
             NTILE(5) OVER (ORDER BY freq DESC, ck) AS f,
             NTILE(5) OVER (ORDER BY cents DESC, ck) AS m
      FROM base
    )
    SELECT r || '-' || f || '-' || m AS rfm, COUNT(*) AS n_customers
    FROM scored GROUP BY 1 ORDER BY n_customers DESC, rfm
    LIMIT 30
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact global quintiles over the customer roster — each via
    bucketed_ntile (two-phase, parallel across value-range buckets)
    instead of three single-task global windows. DESC dimensions bucket
    on the NEGATED value: integer division by a positive constant is
    order-preserving regardless of rounding, so the bucket stays
    monotone along the sort."""
    from wopen_spark.operators.ranking import bucketed_ntile

    o = _t(spark, sf_dir, "orders")
    # base and each scored stage are MATERIALIZED (localCheckpoint):
    # bucketed_ntile evaluates its input several times (bucket counts,
    # offset join, partition total), so chaining three calls on lazy
    # lineage re-executes the orders aggregate exponentially many times.
    # The frames are |customers|-sized — cheap to pin, and each ntile
    # phase then starts from materialized blocks.
    base = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.datediff(
                F.lit("2002-01-01").cast("date"), F.max(F.to_date("o_orderdate"))
            ).alias("rec_days"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .localCheckpoint()
    )
    scored = bucketed_ntile(
        base, 5, F.expr("rec_days div 32"), ["rec_days", "ck"], out="r"
    ).localCheckpoint()
    scored = bucketed_ntile(
        scored, 5, F.expr("(-freq) div 4"), [F.desc("freq"), "ck"], out="f"
    ).localCheckpoint()
    scored = bucketed_ntile(
        scored,
        5,
        F.expr("(-cents) div 10000000"),
        [F.desc("cents"), "ck"],
        out="m",
    )
    return (
        scored.select(
            F.concat_ws(
                "-",
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("rfm")
        )
        .groupBy("rfm")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), "rfm")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Quarterly revenue share within each year (the 100%-stacked seasonal
# view) — conditional aggregation over exact cents with the share as
# one engine-identical division.
# ---------------------------------------------------------------------------
@query(
    "quarterly_revenue_share",
    oracle="""
    WITH q AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    t AS (SELECT yr, CAST(SUM(cents) AS BIGINT) AS total FROM q GROUP BY 1)
    SELECT q.yr, q.qtr,
           CAST(q.cents AS DOUBLE) / 100.0 AS revenue,
           round(CAST(q.cents AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share
    FROM q JOIN t USING (yr)
    ORDER BY q.yr, q.qtr
    """,
)
def quarterly_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    q = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    t = q.groupBy("yr").agg(F.sum("cents").cast("long").alias("total"))
    return (
        q.join(F.broadcast(t), "yr")
        .select(
            "yr",
            "qtr",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            F.round(
                F.col("cents").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("yr", "qtr")
    )


# ---------------------------------------------------------------------------
# Order line-count dispersion — the variance/mean ratio that tests
# whether lines-per-order behaves Poisson (index ~1) or clumped (>1).
# All moments are exact integer sums over the contracted per-order
# counts; the two divisions at the end are engine-identical.
# ---------------------------------------------------------------------------
@query(
    "order_linecount_dispersion",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY 1
    )
    SELECT COUNT(*) AS n_orders,
           round(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS mean_lines,
           round((CAST(SUM(k * k) AS DOUBLE) - CAST(SUM(k) AS DOUBLE) * SUM(k) / COUNT(*))
                 / (COUNT(*) - 1), 6) AS var_lines,
           round(((CAST(SUM(k * k) AS DOUBLE) - CAST(SUM(k) AS DOUBLE) * SUM(k) / COUNT(*))
                  / (COUNT(*) - 1))
                 / (CAST(SUM(k) AS DOUBLE) / COUNT(*)), 6) AS dispersion_index
    FROM c
    """,
)
def order_linecount_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    n = F.count(F.lit(1))
    sk = F.sum("k").cast("double")
    skk = F.sum(F.col("k") * F.col("k")).cast("double")
    mean = sk / n
    var = (skk - sk * F.sum("k") / n) / (n - 1)
    return c.agg(
        n.alias("n_orders"),
        F.round(mean, 6).alias("mean_lines"),
        F.round(var, 6).alias("var_lines"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of daily revenue — Pearson over consecutive-day
# pairs, the persistence check behind any forecasting choice. Pairs
# come from a lag window on the daily aggregate; all five moments ride
# exact scaled-long sums (cents ~1e9/day and squared products stay
# within decimal(38)), with one final IEEE expression shared by both
# engines.
# ---------------------------------------------------------------------------
@query(
    "daily_revenue_autocorr",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT cents AS y,
             LAG(cents) OVER (ORDER BY day) AS x
      FROM d
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
      FROM pairs WHERE x IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS lag1_autocorr
    FROM m
    """,
)
def daily_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    pairs = d.select(
        F.col("cents").alias("y"),
        F.lag("cents").over(Window.orderBy("day")).alias("x"),
    ).filter(F.col("x").isNotNull())
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double")
    syy = F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("double")
    sxy = F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return pairs.agg(
        n.cast("long").alias("n_pairs"),
        F.round(corr, 6).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# Top-5 brands with an OTHER rollup — the BI presentation shape: rank
# once over the contracted brand aggregate, fold the tail into one
# bucket, and re-aggregate. The fold key comes from a broadcast of the
# 5-row top list, so the fact never shuffles twice.
# ---------------------------------------------------------------------------
@query(
    "brand_top5_with_other",
    oracle="""
    WITH b AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    top5 AS (
      SELECT brand FROM b ORDER BY cents DESC, brand LIMIT 5
    )
    SELECT CASE WHEN t.brand IS NOT NULL THEN b.brand ELSE 'OTHER' END AS brand,
           CAST(SUM(b.cents) AS DOUBLE) / 100.0 AS revenue
    FROM b LEFT JOIN top5 t ON b.brand = t.brand
    GROUP BY 1 ORDER BY revenue DESC, brand
    """,
)
def brand_top5_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    top5 = b.orderBy(F.desc("cents"), "brand").limit(5).select(
        F.col("brand").alias("tb")
    )
    return (
        b.join(F.broadcast(top5), b.brand == F.col("tb"), "left")
        .groupBy(
            F.when(F.col("tb").isNotNull(), F.col("brand"))
            .otherwise("OTHER")
            .alias("brand")
        )
        .agg((F.sum("cents").cast("double") / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "brand")
    )


# ---------------------------------------------------------------------------
# Percent-of-parent: each nation's share of its region's customer
# balance — the two-level drilldown ratio, with both levels aggregated
# once and the shares decided by one identical division.
# ---------------------------------------------------------------------------
@query(
    "nation_share_of_region",
    oracle="""
    WITH n AS (
      SELECT r.r_name AS region, nt.n_name AS nation,
             CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM customer c
      JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      JOIN region r ON nt.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(cents AS DOUBLE) / 100.0 AS balance,
           round(CAST(cents AS DOUBLE)
                 / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS share_of_region
    FROM n ORDER BY region, nation
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    nt = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .join(F.broadcast(r), nt.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("region")
    return base.select(
        "region",
        "nation",
        (F.col("cents").cast("double") / 100.0).alias("balance"),
        F.round(
            F.col("cents").cast("double") / F.sum("cents").over(w).cast("double"),
            6,
        ).alias("share_of_region"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Bot-like user screen: many events AND machine-regular timing — the
# composite filter an abuse pipeline applies before any model. Gap
# variance comes from exact second-sums (decimal for the squared
# moment); the cut selects the most-regular ~1% of heavy users
# (threshold sized to the synthetic cadence), decided by identical
# IEEE arithmetic on both engines.
# ---------------------------------------------------------------------------
@query(
    "bot_like_users",
    oracle="""
    WITH g AS (
      SELECT user_id,
             floor(epoch(ts))::BIGINT
               - floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
               AS gap
      FROM events
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS sg,
             CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS DOUBLE) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps + 1 AS n_events,
           round((sgg - CAST(sg AS DOUBLE) * sg / n_gaps) / (n_gaps - 1), 6)
             AS gap_variance
    FROM m
    WHERE n_gaps >= 19
      AND (sgg - CAST(sg AS DOUBLE) * sg / n_gaps) / (n_gaps - 1)
          < 850000000.0
    ORDER BY user_id
    """,
)
def bot_like_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap"
        ),
    ).filter(F.col("gap").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").cast("long").alias("sg"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
        .cast("double")
        .alias("sgg"),
    )
    var = (
        F.col("sgg") - F.col("sg").cast("double") * F.col("sg") / F.col("n_gaps")
    ) / (F.col("n_gaps") - 1)
    return (
        m.filter((F.col("n_gaps") >= 19) & (var < 850000000.0))
        .select(
            "user_id",
            (F.col("n_gaps") + 1).alias("n_events"),
            F.round(var, 6).alias("gap_variance"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Whale analysis: users decile-ranked by total spend, spend share per
# decile — the revenue-concentration view. NTILE orders by exact cents
# with the user id as tie-break (fully deterministic), and the share is
# one division over exact sums.
# ---------------------------------------------------------------------------
@query(
    "user_spend_deciles",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    d AS (
      SELECT user_id, cents,
             NTILE(10) OVER (ORDER BY cents DESC, user_id) AS decile
      FROM u
    ),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM u)
    SELECT decile, COUNT(*) AS n_users,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS spend,
           round(CAST(SUM(cents) AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share
    FROM d, t GROUP BY 1, t.total ORDER BY 1
    """,
)
def user_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global deciles via bucketed_ntile — the user roster is
    dimension-sized today but unbounded in principle; no single-task
    global window (see operators/ranking.py)."""
    from wopen_spark.operators.ranking import bucketed_ntile

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    d = bucketed_ntile(
        u,
        10,
        F.expr("(-cents) div 10000"),  # $100 spend bands
        [F.desc("cents"), "user_id"],
        out="decile",
    )
    t = u.agg(F.sum("cents").cast("long").alias("total"))
    return (
        d.join(F.broadcast(t))
        .groupBy("decile", "total")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.sum("cents").cast("double") / 100.0).alias("spend"),
            F.round(
                F.sum("cents").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
        )
        .select("decile", "n_users", "spend", "share")
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman supplier concentration per part type —
# HHI = Σ share_i² computed as Σ cents_i² / total² so both the
# numerator (decimal-accumulated squares of exact cents) and the
# denominator are exact before the single division. HHI > 0.25 is the
# usual "concentrated market" flag; per-type revenue contracts to
# (type, supplier) rows first.
# ---------------------------------------------------------------------------
@query(
    "supplier_hhi_by_type",
    oracle="""
    WITH s AS (
      SELECT p.p_type AS type, l.l_suppkey,
             CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT type, COUNT(*) AS n_suppliers,
           round(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
                 / (CAST(SUM(cents) AS DOUBLE) * SUM(cents)), 6) AS hhi
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def supplier_hhi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    s = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("type"), "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    return (
        s.groupBy("type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast(
                    "double"
                )
                / (F.sum("cents").cast("double") * F.sum("cents")),
                6,
            ).alias("hhi"),
        )
        .orderBy("type")
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics — the pre-flight check every 100 TB join/groupBy
# needs: per-key row counts reduced to cardinality, max/percentile
# counts, a skew ratio (max over mean), and the heaviest key itself.
# Two-level shape: one map-combined count shuffle per keyspace, then a
# single-row reduce; only (key, cnt) pairs ever move. The exact
# interpolated percentile over the per-key count table is fine up to
# ~1e8 distinct keys (it gathers one long per key); beyond that swap
# F.percentile for percentile_approx — the sketch the rest of this
# module already provides. Feeds the salting / AQE-skew-join decisions
# pinned in tests/test_plans.py.
# ---------------------------------------------------------------------------
def _duck_skew_block(table: str, keycol: str, name: str, c: str, s: str) -> str:
    return f"""
    {c} AS (SELECT {keycol} AS key, COUNT(*) AS cnt FROM {table} GROUP BY 1),
    {s} AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
                   MAX(cnt) AS max_cnt,
                   round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
                   round(quantile_cont(cnt, 0.99), 4) AS p99_cnt
            FROM {c})
    """


def _duck_skew_select(name: str, c: str, s: str) -> str:
    return f"""
    SELECT '{name}' AS keyspace, n_keys, total_rows, max_cnt, p50_cnt, p99_cnt,
           round(max_cnt * n_keys / total_rows, 4) AS skew_ratio,
           (SELECT CAST(MIN(key) AS VARCHAR) FROM {c} WHERE {c}.cnt = {s}.max_cnt) AS top_key
    FROM {s}
    """


@query(
    "key_skew_profile",
    oracle=f"""
    WITH {_duck_skew_block("events", "user_id", "events.user_id", "c1", "s1")},
    {_duck_skew_block("events", "event_type", "events.event_type", "c2", "s2")},
    {_duck_skew_block("lineitem", "l_suppkey", "lineitem.l_suppkey", "c3", "s3")}
    {_duck_skew_select("events.user_id", "c1", "s1")}
    UNION ALL {_duck_skew_select("events.event_type", "c2", "s2")}
    UNION ALL {_duck_skew_select("lineitem.l_suppkey", "c3", "s3")}
    ORDER BY keyspace
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def prof(df: DataFrame, keycol: str, name: str) -> DataFrame:
        c = df.groupBy(F.col(keycol).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
        return c.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
            F.round(F.percentile("cnt", F.lit(0.5)), 4).alias("p50_cnt"),
            F.round(F.percentile("cnt", F.lit(0.99)), 4).alias("p99_cnt"),
            F.round(F.max("cnt") * F.count(F.lit(1)) / F.sum("cnt"), 4).alias(
                "skew_ratio"
            ),
            # heaviest key, ties to the smallest in the key's NATIVE order
            F.min_by(
                F.col("key").cast("string"),
                F.struct((-F.col("cnt")).alias("nc"), F.col("key").alias("k")),
            ).alias("top_key"),
        ).select(F.lit(name).alias("keyspace"), "*")

    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    return (
        prof(ev, "user_id", "events.user_id")
        .unionByName(prof(ev, "event_type", "events.event_type"))
        .unionByName(prof(li, "l_suppkey", "lineitem.l_suppkey"))
        .orderBy("keyspace")
    )


# ---------------------------------------------------------------------------
# Mergeable binned quantile sketch — the 100 TB quantile path the exact
# per-group F.percentile cannot take (it gathers every value of a group
# onto one reducer). A 1024-bin equi-width histogram over exact cents
# is a pure map-combined aggregate: partial histograms merge by bin-wise
# sum (associative, order-free), so the shape survives any partitioning
# — and unlike HLL's engine-specific registers, every step here is
# integer arithmetic both engines reproduce bit-for-bit, making this the
# ORACLE-MATCHED approximate-quantile contract. Estimates are bin lower
# edges: deterministic, conservative (<= true quantile by at most one
# bin width), and exact when a bin holds a single value.
# ---------------------------------------------------------------------------
_BQS_QS = [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)]


@query(
    "binned_quantile_sketch",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    b AS (
      SELECT event_type, MIN(cents) AS mn, MAX(cents) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c GROUP BY 1
    ),
    binned AS (
      SELECT c.event_type, least(1023, ((c.cents - b.mn) * 1024) // (b.mx - b.mn + 1)) AS bin
      FROM c JOIN b USING (event_type)
    ),
    hist AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM binned GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM hist
    ),
    qs AS (SELECT * FROM (VALUES {", ".join(f"('{name}', {q})" for name, q in _BQS_QS)}) AS t(q_name, q)),
    hit AS (
      SELECT cum.event_type, qs.q_name, b.n, b.mn, b.mx,
             MIN(cum.bin) AS qbin
      FROM cum
      JOIN b USING (event_type)
      CROSS JOIN qs
      WHERE cum.cum >= CAST(ceil(qs.q * b.n) AS BIGINT)
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT event_type, q_name, n,
           CAST(mn + (qbin * (mx - mn + 1)) // 1024 AS DOUBLE) / 100 AS est_value
    FROM hit ORDER BY event_type, q_name
    """,
)
def binned_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    b = ev.groupBy("event_type").agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    # bounds broadcast into the map side; the bin id is pure integer
    # arithmetic so partial histogram merge is exact on any engine
    binned = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.least(
            F.lit(1023),
            F.expr("((cents - mn) * 1024) div (mx - mn + 1)"),
        ).alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    qs = spark.createDataFrame(_BQS_QS, ["q_name", "q"])
    hit = (
        cum.join(F.broadcast(b), "event_type")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long"))
        .groupBy("event_type", "q_name", "n", "mn", "mx")
        .agg(F.min("bin").alias("qbin"))
    )
    return hit.select(
        "event_type",
        "q_name",
        "n",
        (
            (F.col("mn") + F.expr("(qbin * (mx - mn + 1)) div 1024")).cast("double")
            / 100
        ).alias("est_value"),
    ).orderBy("event_type", "q_name")
