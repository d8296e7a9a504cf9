"""Corpus indexing + end-to-end dedup queries for training-data
pipelines: inverted-index posting lists, TF-IDF top terms, per-doc
lexical-diversity stats, and the full near-dup KEEP decision (LSH
candidates -> components -> one survivor per cluster).

Scale shapes: tf is the only corpus-sized shuffle (keyed on (doc,term)
then term — uniform unless a term is globally hot, which the posting cap
bounds); document-frequency and corpus-size scalars broadcast; the
lexical stats are pure map-side array expressions (zero shuffle, zero
Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wopen_spark.operators.dedup import minhash_lsh_candidates
from wopen_spark.operators.graph import connected_components
from wopen_spark.queries.dedup import DUCK_LSH_PAIRS, DUCK_LSH_REPS, _lsh_reps
from wopen_spark.queries.registry import _inherit, _spread, _t, query

_DUCK_W = "regexp_extract_all(lower(text), '\\S+')"


def _words() -> F.Column:
    return F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), F.lit(0))


# ---------------------------------------------------------------------------
# Inverted index: term -> document frequency, total term frequency, and
# the first 10 postings (sorted doc_ids). The posting list is CAPPED —
# at 100 TB a hot term's full posting list is itself big data and would
# be sharded, never collected into one array; df/total_tf stay exact
# because they aggregate before the cap.
# ---------------------------------------------------------------------------
@query(
    "inverted_index_postings",
    oracle=f"""
    WITH tf AS (
      SELECT t.token, doc_id, COUNT(*) AS tf
      FROM documents, unnest({_DUCK_W}) AS t(token)
      GROUP BY 1, 2
    )
    SELECT token,
           COUNT(*) AS df,
           SUM(tf) AS total_tf,
           array_to_string(list_sort(list(doc_id))[1:10], '|') AS postings_head
    FROM tf
    GROUP BY token
    ORDER BY df DESC, token
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(_words()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10), "|"
            ).alias("postings_head"),
        )
        .orderBy(F.desc("df"), "token")
    )


# ---------------------------------------------------------------------------
# TF-IDF: top-3 terms per document by tf * ln(N/df). df per term and the
# corpus size N broadcast; the per-doc top-k is a window over the tf
# rows, partitioned on doc_id (unique -> skew-free).
# ---------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t.token, COUNT(*) AS tf
      FROM documents, unnest({_DUCK_W}) AS t(token)
      GROUP BY 1, 2
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone-collapsed: tf and the per-doc ranking are functions of the
    text, and document frequency / corpus size weight each distinct text
    by its clone count (exact integer sums — a text with w clones
    contributes exactly w documents to df and N). The explode runs over
    ~5k distinct texts at sf10 instead of 500k docs; every doc inherits
    its text's top-3 through a broadcast join."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    groups = d.groupBy("text").agg(F.count(F.lit(1)).alias("w"))
    tf = (
        groups.select("text", "w", F.explode(_words()).alias("token"))
        .groupBy("text", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("w").alias("w"))
    )
    df = tf.groupBy("token").agg(F.sum("w").alias("df"))
    n = groups.agg(F.sum("w").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "text",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("text").orderBy(F.desc("tfidf"), F.asc("token"))
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    return (
        # gate on the cheap distinct-text set: sizing `top` itself would
        # run the whole tf-idf ranking pipeline once extra (the rank
        # filter blocks column pruning)
        _inherit(
            d.select("doc_id", "text"),
            top,
            ["text"],
            gate=d.select("text").distinct(),
        )
        .select("doc_id", "token", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Lexical diversity per doc: token count, type count, type-token ratio,
# hapax count (words occurring exactly once in the doc). Entirely
# map-side: the hapax test runs over the SORTED word array comparing
# each position to its neighbours — no explode, no shuffle, no Python.
# ---------------------------------------------------------------------------
@query(
    "doc_lexical_diversity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_sort({_DUCK_W}) AS ws FROM documents
    )
    SELECT doc_id,
           len(ws) AS n_tokens,
           len(list_distinct(ws)) AS n_types,
           CASE WHEN len(ws) > 0
             THEN round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
             ELSE 0.0 END AS type_token_ratio,
           len(list_filter(range(1, len(ws) + 1),
               i -> (i = 1 OR ws[i] <> ws[i-1])
                AND (i = len(ws) OR ws[i] <> ws[i+1]))) AS n_hapax
    FROM w ORDER BY doc_id
    """,
)
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.queries.registry import _per_distinct_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(texts: DataFrame) -> DataFrame:
        t = texts.select("text", F.array_sort(_words()).alias("ws"))
        n = F.size(F.col("ws"))
        types = F.size(F.array_distinct(F.col("ws")))
        is_hapax = lambda i: (  # noqa: E731 — inline predicate over position i
            F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(F.col("ws"), i) != F.element_at(F.col("ws"), i - 1)
            )
            & F.when(i == n, F.lit(True)).otherwise(
                F.element_at(F.col("ws"), i) != F.element_at(F.col("ws"), i + 1)
            )
        )
        return t.select(
            "text",
            n.cast("long").alias("n_tokens"),
            types.cast("long").alias("n_types"),
            F.when(n > 0, F.round(types.cast("double") / n, 6))
            .otherwise(F.lit(0.0))
            .alias("type_token_ratio"),
            F.size(F.filter(F.sequence(F.lit(1), n), is_hapax))
            .cast("long")
            .alias("n_hapax"),
        )

    return (
        _per_distinct_text(d, build)
        .select("doc_id", "n_tokens", "n_types", "type_token_ratio", "n_hapax")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup KEEP decision: exact-dedup reps -> MinHash-LSH
# candidate pairs -> connected components -> keep exactly one doc per
# transitive cluster (the min doc_id, which is both the component label
# and the rep of its text group). Every doc gets a verdict; the
# iterative part runs only on the distinct-text graph.
# ---------------------------------------------------------------------------
@query(
    "near_dup_keep_corpus",
    oracle=f"""
    WITH RECURSIVE pairs AS ({DUCK_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep_comp AS (
      SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a
    ),
    {DUCK_LSH_REPS}
    SELECT d.doc_id AS doc_id,
           coalesce(rc.component, rm.doc_id) AS component,
           CAST(d.doc_id = coalesce(rc.component, rm.doc_id) AS BIGINT) AS kept
    FROM documents d
    JOIN reps rm USING (text)
    LEFT JOIN rep_comp rc ON rc.rep_id = rm.doc_id
    ORDER BY d.doc_id
    """,
)
def near_dup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = _lsh_reps(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    rep_of = reps.withColumnRenamed("doc_id", "rep_id")
    comp_of = comps.withColumnRenamed("node", "rep_id")
    keep_label = F.coalesce(F.col("component"), F.col("rep_id"))
    return (
        _inherit(_inherit(d, rep_of, ["text"]), comp_of, ["rep_id"], how="left")
        .select(
            "doc_id",
            keep_label.alias("component"),
            (F.col("doc_id") == keep_label).cast("long").alias("kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Positional phrase search: exact two-word phrase counts via postings
# intersection — tokens carry positions, a phrase hit is (same doc,
# adjacent positions). The IR-complete step beyond the bag-of-words
# inverted index. Token postings filter to the phrase vocabulary BEFORE
# the self-join (selective scan), the join keys on (text, position+1)
# — uniform, never quadratic — and the whole thing runs per DISTINCT
# text with clone weights, so replicated docs cost nothing extra.
# ---------------------------------------------------------------------------
_PHRASES = [("table value", "table", "value"), ("fast key", "fast", "key"),
            ("big data", "big", "data")]


@query(
    "phrase_search_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos
      FROM (SELECT doc_id, {_DUCK_W} AS arr FROM documents)
    ),
    postings AS (SELECT doc_id, pos, arr[CAST(pos AS INTEGER)] AS tok FROM toks),
    phrases(phrase, w1, w2) AS (VALUES {", ".join(f"('{p}', '{a}', '{b}')" for p, a, b in _PHRASES)}),
    hits AS (
      SELECT ph.phrase, t1.doc_id
      FROM postings t1
      JOIN phrases ph ON t1.tok = ph.w1
      JOIN postings t2 ON t2.doc_id = t1.doc_id
                      AND t2.pos = t1.pos + 1 AND t2.tok = ph.w2
    )
    SELECT phrase,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM hits GROUP BY phrase ORDER BY phrase
    """,
)
def phrase_search_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    groups = d.groupBy("text").agg(F.count(F.lit(1)).alias("w"))
    vocab = sorted({w for _, a, b in _PHRASES for w in (a, b)})
    # the positional self-join keys on md5(text), never the multi-KB
    # text itself — the shuffle carries 32-byte keys (same fix as the
    # contamination gram join)
    toks = (
        groups.select(
            F.md5("text").alias("fp"),
            "w",
            F.posexplode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), F.lit(0))
            ).alias("pos0", "tok"),
        )
        .filter(F.col("tok").isin(vocab))
        .select("fp", "w", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    phrases = F.broadcast(
        spark.createDataFrame(_PHRASES, ["phrase", "w1", "w2"])
    )
    t2 = toks.select(
        F.col("fp").alias("fp2"), F.col("pos").alias("pos2"), F.col("tok").alias("tok2")
    )
    hits = (
        toks.join(phrases, toks.tok == phrases.w1)
        .join(
            t2,
            (F.col("fp2") == F.col("fp"))
            & (F.col("pos2") == F.col("pos") + 1)
            & (F.col("tok2") == F.col("w2")),
        )
        .groupBy("phrase", "fp", "w")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        hits.groupBy("phrase")
        .agg(
            F.sum("w").cast("long").alias("n_docs"),
            F.sum(F.col("occ") * F.col("w")).cast("long").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


# ---------------------------------------------------------------------------
# Entity-resolution GOLDEN RECORD: the keep decision with a
# survivorship RULE — per near-dup cluster, the longest text wins (tie
# -> min doc_id), the richer-record heuristic master-data pipelines use
# instead of min-id. Same blocking -> clustering machinery as
# near_dup_keep_corpus (LSH candidates over exact-dedup reps,
# connected components on the distinct-text graph); only the per-
# component argmax differs, and it runs on the tiny rep table.
# ---------------------------------------------------------------------------
@query(
    "entity_golden_records",
    oracle=f"""
    WITH RECURSIVE pairs AS ({DUCK_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep_comp AS (
      SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a
    ),
    {DUCK_LSH_REPS},
    labeled AS (
      SELECT rm.doc_id AS rep_id, rm.text,
             coalesce(rc.component, rm.doc_id) AS comp
      FROM reps rm LEFT JOIN rep_comp rc ON rc.rep_id = rm.doc_id
    ),
    surv AS (
      SELECT comp, rep_id AS survivor_id FROM (
        SELECT comp, rep_id,
               ROW_NUMBER() OVER (
                 PARTITION BY comp ORDER BY length(text) DESC, rep_id
               ) AS rn
        FROM labeled
      ) WHERE rn = 1
    )
    SELECT d.doc_id, s.survivor_id,
           CAST(d.doc_id = s.survivor_id AS BIGINT) AS is_survivor
    FROM documents d
    JOIN reps rm USING (text)
    JOIN labeled l ON l.rep_id = rm.doc_id
    JOIN surv s ON s.comp = l.comp
    ORDER BY d.doc_id
    """,
)
def entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = _lsh_reps(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    # materialized ONCE: labeled feeds the survivorship window AND the
    # final clone rejoin — on lazy lineage each consumer would re-run
    # the exact-dedup reps aggregate (a full documents scan) again. The
    # frame is |distinct texts|-sized, cheap to pin.
    labeled = (
        reps.withColumnRenamed("doc_id", "rep_id")
        .join(
            F.broadcast(comps.withColumnRenamed("node", "rep_id")),
            "rep_id",
            "left",
        )
        .withColumn("comp", F.coalesce(F.col("component"), F.col("rep_id")))
        .localCheckpoint()
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc(F.length("text")), F.asc("rep_id")
    )
    surv = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("rep_id").alias("survivor_id"))
    )
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    return (
        _inherit(
            _inherit(d, labeled.select("rep_id", "text", "comp"), ["text"]),
            surv,
            ["comp"],
        )
        .select(
            "doc_id",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).cast("long").alias(
                "is_survivor"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Curation-aware near-dup survivor: instead of keeping the MIN doc_id
# per transitive cluster (near_dup_keep_corpus), keep the HIGHEST
# QUALITY member — the policy real training-data dedup ships (drop the
# truncated/boilerplate copy, keep the clean one). Same LSH -> CC
# machinery; quality computes once per DISTINCT
# text; the only new shuffle is the per-component argmax window, whose
# partitions are cluster-sized, never corpus-sized.
# ---------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    from wopen_spark.queries.text_analysis import duck_quality_from_text

    quality = duck_quality_from_text()
    return f"""
    WITH RECURSIVE pairs AS ({DUCK_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep_comp AS (
      SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a
    ),
    {DUCK_LSH_REPS}
    , labeled AS (
      SELECT d.doc_id, coalesce(rc.component, rm.doc_id) AS component,
             {quality} AS quality
      FROM documents d
      JOIN reps rm USING (text)
      LEFT JOIN rep_comp rc ON rc.rep_id = rm.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                 ORDER BY quality DESC, doc_id) AS rk
      FROM labeled
    ),
    sizes AS (SELECT component, COUNT(*) AS n_docs FROM labeled GROUP BY 1)
    SELECT r.component, r.doc_id AS keeper_doc_id,
           r.quality AS keeper_quality, s.n_docs
    FROM ranked r JOIN sizes s USING (component)
    WHERE r.rk = 1
    ORDER BY r.component
    """


@query("near_dup_keep_best_quality", oracle=_keep_best_oracle())
def near_dup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.functions.text import quality_score

    reps = _lsh_reps(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    rep_of = reps.withColumnRenamed("doc_id", "rep_id")
    comp_of = comps.withColumnRenamed("node", "rep_id")
    labeled = (
        _inherit(_inherit(d, rep_of, ["text"]), comp_of, ["rep_id"], how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("component"),
            "text",
        )
    )
    qual = (
        d.select("text")
        .distinct()
        .select("text", quality_score(F.col("text")).alias("quality"))
    )
    labeled = _inherit(
        labeled, qual, ["text"], gate=d.select("text").distinct()
    ).drop("text")
    win = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        labeled.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .join(sizes, "component")
        .select(
            "component",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("quality").alias("keeper_quality"),
            "n_docs",
        )
        .orderBy("component")
    )
