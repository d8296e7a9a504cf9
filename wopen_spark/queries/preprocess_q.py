"""Training-corpus preprocessing operators: chunking, sequence packing,
stratified sampling.

These are the steps between raw curated documents and model-ready
batches. All three stay entirely in whole-stage codegen (sequence /
explode / window / hash — zero Python), and each partitions by a key
(doc, lang) that keeps the work embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wopen_spark.functions.text import TOKEN_REGEX
from wopen_spark.queries.registry import _spread, _t, query

_CHUNK = 200  # chars per chunk
_STRIDE = 150  # chunk start stride => 50-char overlap

# ---------------------------------------------------------------------------
# Fixed-size overlapping chunks per document — the standard long-document
# split before tokenization. sequence() + explode is a generator, not a
# join: each doc expands independently in its own task, so the op scales
# linearly with corpus size and never shuffles.
# ---------------------------------------------------------------------------
@query(
    "doc_chunking",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, text,
             unnest(generate_series(0, (greatest(length(text), 1) - 1) // {_STRIDE})) AS chunk_id
      FROM documents
    )
    SELECT doc_id, chunk_id,
           md5(substring(text, 1 + chunk_id * {_STRIDE}, {_CHUNK})) AS chunk_hash,
           length(substring(text, 1 + chunk_id * {_STRIDE}, {_CHUNK})) AS chunk_len
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    n_chunks = (F.greatest(F.length("text"), F.lit(1)) - 1) / F.lit(_STRIDE)
    chunk = F.substring(
        F.col("text"), F.col("chunk_id") * _STRIDE + 1, _CHUNK
    )
    return (
        d.withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0), n_chunks.cast("long"))),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.md5(chunk).alias("chunk_hash"),
            F.length(chunk).alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents (in stable doc_id order) to
# fixed-token-budget bins, per language. The running token total is a
# window cumsum PARTITIONED BY lang — every language packs in parallel;
# at 100 TB the partition key widens to (lang, shard) and bins stay
# local. Contiguous-order packing (bin = tokens-before // budget) is the
# deterministic variant of greedy packing: reproducible on any engine.
# ---------------------------------------------------------------------------
_BIN_TOKENS = 512


@query(
    "sequence_packing_bins",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT lang, n_tokens,
             (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens) // {_BIN_TOKENS} AS bin_id
      FROM toks
    )
    SELECT lang, bin_id, COUNT(*) AS n_docs, SUM(n_tokens) AS bin_tokens
    FROM packed GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """,
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text"), F.lit(TOKEN_REGEX)).alias("n_tokens"),
    )
    packed = toks.withColumn(
        "bin_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _BIN_TOKENS).cast("long"),
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("lang", "bin_id")
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: a different keep-rate per language
# (rebalancing a skewed corpus), decided by a salted key hash — same
# rows on any engine / partitioning / rerun, no rand(). The rate lookup
# is a broadcast map; the filter fuses into the scan's codegen stage.
# ---------------------------------------------------------------------------
_LANG_RATES = {"en": 10, "fr": 50, "de": 50, "es": 80}  # percent kept


@query(
    "stratified_sample_by_lang",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100
          < CASE lang WHEN 'en' THEN 10 WHEN 'fr' THEN 50
                      WHEN 'de' THEN 50 WHEN 'es' THEN 80 ELSE 100 END
    ORDER BY doc_id
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.lit(100)
    for lang, pct in _LANG_RATES.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return d.filter(bucket < rate).select("doc_id", "lang").orderBy("doc_id")


@query(
    "sft_pair_formatting",
    oracle="""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
      FROM documents WHERE doc_id % 25 = 0
    ),
    split AS (
      SELECT doc_id,
             array_to_string(ws[1:len(ws) // 2], ' ') AS prompt,
             array_to_string(ws[len(ws) // 2 + 1:len(ws)], ' ') AS completion,
             CAST(len(ws) // 2 AS BIGINT) AS n_prompt_tokens,
             CAST(len(ws) - len(ws) // 2 AS BIGINT) AS n_completion_tokens
      FROM base
    )
    SELECT doc_id, n_prompt_tokens, n_completion_tokens,
           md5(prompt) AS prompt_md5, md5(completion) AS completion_md5
    FROM split ORDER BY doc_id
    """,
)
def sft_pair_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair prep: split each sampled doc at its token
    midpoint into (prompt, completion) halves — the continuation-style
    SFT formatting — and emit the md5 of each side so the exact rendered
    strings (joins, separators, boundaries) are value-pinned, not just
    the counts. Pure array ops per row; zero shuffles before the
    presentation sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    ws = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    half = (F.size(ws) / 2).cast("int")
    base = d.select(
        "doc_id",
        ws.alias("ws"),
        half.alias("h"),
    )
    prompt = F.array_join(F.slice(F.col("ws"), 1, F.col("h")), " ")
    completion = F.array_join(
        F.slice(
            F.col("ws"),
            F.col("h") + 1,
            F.greatest(F.size("ws") - F.col("h"), F.lit(0)),
        ),
        " ",
    )
    return base.select(
        "doc_id",
        F.col("h").cast("long").alias("n_prompt_tokens"),
        (F.size("ws") - F.col("h")).cast("long").alias("n_completion_tokens"),
        F.md5(prompt).alias("prompt_md5"),
        F.md5(completion).alias("completion_md5"),
    ).orderBy("doc_id")


@query(
    "context_budget_overflow",
    oracle="""
    WITH t AS (
      SELECT source, len(regexp_extract_all(text, '\\S+')) AS n_tok
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_tok > 32) AS over_32,
           COUNT(*) FILTER (WHERE n_tok > 48) AS over_48,
           COUNT(*) FILTER (WHERE n_tok > 64) AS over_64
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def context_budget_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each source exceeds the training context budgets —
    the first number that decides between truncation, chunking, and
    drop policies. Token counting runs once per DISTINCT text via
    clone-collapse; budgets sized to the testdata's token range."""
    from wopen_spark.queries.registry import _per_distinct_text

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    counted = _per_distinct_text(
        d.select("source", "text"),
        lambda t: t.select(
            "text", F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_tok")
        ),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > 32, 1).otherwise(0)).alias("over_32"),
            F.sum(F.when(F.col("n_tok") > 48, 1).otherwise(0)).alias("over_48"),
            F.sum(F.when(F.col("n_tok") > 64, 1).otherwise(0)).alias("over_64"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic training-shard assignment — the export step that turns a
# curated corpus into N equally-loaded shard files. A global ROW_NUMBER
# shuffle-sort is the naive design (single-partition window at scale);
# the scale-right one is a HASH bucket: md5 of the doc id is uniform, so
# shards balance to within sampling noise with ZERO global sort — one
# aggregate shuffle on 64 keys. Deterministic across runs/engines by
# construction (same ids -> same shards).
# ---------------------------------------------------------------------------
@query(
    "training_shard_assignment",
    oracle="""
    WITH s AS (
      SELECT CAST(('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS shard,
             doc_id, n_chars
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) // 4 AS BIGINT) AS approx_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 64
    )
    return (
        d.select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(cast(n_chars as bigint)) div 4").alias("approx_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Incremental ledger dedup — the daily-ingest shape: dedup a NEW batch
# against the fingerprints of everything ALREADY INGESTED, without
# re-deduping the whole corpus. One anti join keyed on the md5
# fingerprint: the ledger side is read-only (at scale, a bucketed
# fingerprint table so the join is shuffle-free on re-ingest), the new
# batch is partition-sized. Composes with Table.write_partition for the
# end-to-end idempotent ingest.
# ---------------------------------------------------------------------------
@query(
    "incremental_dedup_new_source",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
      FROM documents
    )
    SELECT n.doc_id, n.h AS fingerprint
    FROM fp n
    WHERE n.source = 'src19'
      AND NOT EXISTS (
        SELECT 1 FROM fp old WHERE old.source <> 'src19' AND old.h = n.h
      )
    ORDER BY n.doc_id
    """,
)
def incremental_dedup_new_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.functions.text import doc_fingerprint

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    fp = d.select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    new = fp.filter(F.col("source") == "src19")
    ledger = fp.filter(F.col("source") != "src19").select("fingerprint").distinct()
    return (
        new.join(ledger, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )
